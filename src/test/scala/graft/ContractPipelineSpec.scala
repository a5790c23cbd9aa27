package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.contracts.{Derive, Export, Ingest, ScannerBackend, Solidity}
import graft.functions.Keccak

/** Contract pipeline against the reference's own fixtures
  * (/root/reference/contracts, read-only) — ports the reference's golden
  * tests (`plain_contract.rs:542-588`) to the compiler-free scanner.
  * The cases that read those fixtures cancel on a host without them.
  */
class ContractPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = TestSpark.referenceContracts

  // the reference's golden string (`plain_contract.rs:560-562`)
  private val goldenDecrement =
    "function decrement() public override {\n        count = count.subtract(1);\n    }"

  test("S1/S3: demo folder classifies as multi_sol with 4 .sol files") {
    TestSpark.assumeReferenceContracts()
    val c = Ingest.metadataContracts(spark, root).collect()
    assert(c.length == 1)
    val row = c.head
    assert(row.getAs[String]("name") == "AdvancedCounter")
    assert(row.getAs[String]("source_type") == "multi_sol")
    val files = row.getList[org.apache.spark.sql.Row](row.fieldIndex("files"))
    assert(files.size == 4)
    val meta = row.getStruct(row.fieldIndex("metadata"))
    assert(meta.getAs[String]("compiler_version") == "0.8.19")
    assert(meta.getAs[Int]("runs") == 200)
    assert(!meta.getAs[Boolean]("optimization_used"))
  }

  test("A2: multi-file content id is the sorted-multiset hash") {
    TestSpark.assumeReferenceContracts()
    import scala.jdk.CollectionConverters._
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val row = Ingest.metadataContracts(spark, root).collect().head
    val files = row.getList[org.apache.spark.sql.Row](row.fieldIndex("files")).asScala
    val expected = md5(files.map(f => md5(f.getAs[String]("content")
      .replaceAll("\\s+", ""))).sorted.mkString(""))
    assert(row.getAs[String]("id") == expected)
  }

  test("S2 prefix rule: a root-level non-prefixed .json is SKIPPED by the scan") {
    TestSpark.assumeReferenceContracts()
    // the fixture keeps Bueno721Drop.json at the scan root; its name does
    // not start with the root dir's basename ("contracts"), so the
    // reference's filter (`main.rs:136-142`, parent.file_name() even at
    // the root) rejects it — and so must the scan path here
    assert(Ingest.etherscanContracts(spark, root).count() == 0)
  }

  test("S2 prefix rule: the conforming addr-folder layout IS ingested by the scan") {
    TestSpark.assumeReferenceContracts()
    val c = Ingest.etherscanContracts(spark,
      graft.queries.ContractQueries.fixtureRoot).collect()
    assert(c.length == 1)
    assert(c.head.getAs[String]("name") == "Bueno721Drop")
  }

  test("S2/S4/F12/F7: Bueno721Drop etherscan dump parses as standard-json") {
    TestSpark.assumeReferenceContracts()
    // the per-file entry point — the reference's own test path for this
    // fixture (`from_etherscan_json`, plain_contract.rs:580-581)
    val c = Ingest.etherscanJson(spark,
      s"$root/0x9ca84eacf0d0775782ab5b34d01187b37f1ceea4_Bueno721Drop.json").collect()
    assert(c.length == 1)
    val row = c.head
    assert(row.getAs[String]("name") == "Bueno721Drop")
    assert(row.getAs[String]("source_type") == "json")
    // stored as ONE contract.json blob, like the reference
    // (plain_contract.rs:262-267) — so the content id matches whichever
    // ingest path a standard-json contract arrives through
    val files = row.getList[org.apache.spark.sql.Row](row.fieldIndex("files"))
    assert(files.size == 1)
    assert(files.get(0).getAs[String]("name") == "contract.json")
    val meta = row.getStruct(row.fieldIndex("metadata"))
    assert(meta.getAs[Boolean]("optimization_used")) // "1" → true
    assert(meta.getAs[Int]("runs") == 500) // "500" → 500
    assert(meta.getAs[String]("compiler_version") == "v0.8.17+commit.8df45f5f")
  }

  test("SourceFiles.expand: standard-json container yields its sources map") {
    TestSpark.assumeReferenceContracts()
    val c = Ingest.etherscanJson(spark,
      s"$root/0x9ca84eacf0d0775782ab5b34d01187b37f1ceea4_Bueno721Drop.json")
      .collect().head
    val blob = c.getList[org.apache.spark.sql.Row](c.fieldIndex("files"))
      .get(0).getAs[String]("content")
    val expanded = graft.contracts.SourceFiles.expand("contract.json", blob)
    assert(expanded.size == 23)
    assert(expanded.forall(_._1.endsWith(".sol")))
    // non-container files pass through
    assert(graft.contracts.SourceFiles.expand("a.sol", "contract A {}") ==
      Seq(("a.sol", "contract A {}")))
    assert(graft.contracts.SourceFiles.expand("notes.json", "{\"x\": 1}") ==
      Seq(("notes.json", "{\"x\": 1}")))
  }

  test("U3 golden: Counter.decrement body slice matches the reference test") {
    TestSpark.assumeReferenceContracts()
    val counter = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/demo/Counter.sol"))
    val fns = Solidity.extractFunctions(counter)
    val dec = fns.find(_.functionName == "decrement").get
    assert(dec.sourceCode == goldenDecrement)
    assert(dec.contractName == "Counter")
    assert(dec.signature == "decrement()")
    // documented misses, same as the reference (`plain_contract.rs:564-574`):
    // inherited fns only under their defining contract; no getters for
    // public state vars
    assert(!fns.exists(f => f.contractName == "AdvancedCounter"))
    assert(!fns.exists(_.functionName == "count"))
  }

  test("U3: visibility gate — Math's internal functions are not ABI") {
    TestSpark.assumeReferenceContracts()
    val math = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/demo/Math.sol"))
    assert(Solidity.extractFunctions(math).isEmpty)
  }

  test("U3: interface declarations slice through the semicolon") {
    TestSpark.assumeReferenceContracts()
    val icounter = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/demo/ICounter.sol"))
    val fns = Solidity.extractFunctions(icounter)
    assert(fns.map(_.functionName).toSet == Set("increment", "decrement", "getCount"))
    assert(fns.forall(_.visibility == "external"))
    assert(fns.find(_.functionName == "increment").get.sourceCode ==
      "function increment() external;")
  }

  test("F3: signature canonicalization") {
    assert(Solidity.canonicalParam("uint a") == "uint256")
    assert(Solidity.canonicalParam("int x") == "int256")
    assert(Solidity.canonicalParam("address payable to") == "address")
    assert(Solidity.canonicalParam("uint[] memory xs") == "uint256[]")
    assert(Solidity.canonicalParam("bytes32[4] calldata b") == "bytes32[4]")
    assert(Solidity.canonicalParam("string calldata s") == "string")
    val src = "contract T { function transfer(address to, uint amount) public {} }"
    val f = Solidity.extractFunctions(src).head
    assert(f.signature == "transfer(address,uint256)")
    assert(f.selector == "0xa9059cbb") // the canonical ERC-20 vector
    assert(f.resolved)
  }

  test("F3: locally-defined user types expand to their ABI encodings (r13)") {
    // struct → member tuple, enum → uint8, contract/interface → address,
    // value type → underlying — the expansion the reference gets from
    // solc's ABI output (`functions.rs:28-31`), now derived by the
    // scanner's own symbol table for types DEFINED in the source tree
    val src =
      """interface IERC20 { function transfer(address to, uint a) external; }
        |contract T {
        |  struct S { uint a; address payable who; }
        |  enum Side { Buy, Sell }
        |  type Price is uint128;
        |  function f(S memory s) public {}
        |  function g(uint x) public {}
        |  function h(Side side, Price p) external {}
        |  function k(IERC20 token) public {}
        |}""".stripMargin
    val fns = Solidity.extractFunctions(src)
    def f(n: String) = fns.find(_.functionName == n).get
    assert(f("f").resolved)
    assert(f("f").signature == "f((uint256,address))")
    assert(f("f").selector == Keccak.selector("f((uint256,address))"))
    assert(f("g").resolved && f("g").selector != null)
    assert(f("h").signature == "h(uint8,uint128)")
    assert(f("k").signature == "k(address)")
    // arrays of elementary are elementary; user types are not (they go
    // through the symbol table instead)
    assert(Solidity.isElementaryType("uint256[3][]"))
    assert(!Solidity.isElementaryType("MyStruct[]"))
    assert(!Solidity.isElementaryType("IERC20"))
  }

  test("F3: struct expansion matches a PUBLISHED selector (Uniswap V3 exactInputSingle)") {
    // keccak-verified golden: ISwapRouter.exactInputSingle's selector is
    // the published 0x414bf389 — reaching it requires expanding the
    // struct param to its full member tuple; any mis-ordered, mis-typed
    // or unexpanded member yields a different hash
    val src =
      """interface ISwapRouter {
        |  struct ExactInputSingleParams {
        |    address tokenIn;
        |    address tokenOut;
        |    uint24 fee;
        |    address recipient;
        |    uint256 deadline;
        |    uint256 amountIn;
        |    uint256 amountOutMinimum;
        |    uint160 sqrtPriceLimitX96;
        |  }
        |  function exactInputSingle(ExactInputSingleParams calldata params)
        |    external payable returns (uint256 amountOut);
        |}""".stripMargin
    val f = Solidity.extractFunctions(src).head
    assert(f.resolved)
    assert(f.signature ==
      "exactInputSingle((address,address,uint24,address,uint256,uint256,uint256,uint160))")
    assert(f.selector == "0x414bf389")
  }

  test("F3: genuinely compiler-territory shapes still flag resolved=false") {
    // what REMAINS unresolved after r13: types not defined anywhere in
    // the artifact (external imports), function-typed params, ambiguous
    // bare names (two same-named defs in sibling scopes), recursive and
    // mapping-bearing structs. Flagged — never a guessed selector.
    val src =
      """contract A { struct Dup { uint a; } }
        |contract B { struct Dup { address b; } }
        |contract T {
        |  struct Rec { Rec[] kids; }
        |  struct HasMap { mapping(address => uint) m; }
        |  function ext(IImportedElsewhere x) public {}
        |  function fnParam(function(uint) external returns (bool) cb) public {}
        |  function ambiguous(Dup d) public {}
        |  function recursive(Rec memory r) public {}
        |  function mapped(HasMap memory h) public {}
        |  function elem(uint x, bool b) public {}
        |}""".stripMargin
    val fns = Solidity.extractFunctions(src)
    def f(n: String) = fns.find(_.functionName == n).get
    for (n <- Seq("ext", "fnParam", "ambiguous", "recursive", "mapped")) {
      assert(!f(n).resolved, n)
      assert(f(n).selector == null, n)
    }
    // the raw signature stays visibly unexpanded for the unresolved rows
    assert(f("ext").signature == "ext(IImportedElsewhere)")
    assert(f("ambiguous").signature == "ambiguous(Dup)")
    // a sibling with only elementary params still resolves normally
    assert(f("elem").resolved)
    assert(f("elem").signature == "elem(uint256,bool)")
    assert(f("elem").selector != null)
    // a QUALIFIED reference to one of the sibling-scoped structs does
    // resolve (the ambiguity was the bare name, not the definitions)
    val q = Solidity.extractFunctions(
      src + "\ncontract U { function pick(B.Dup d) public {} }")
    assert(q.find(_.functionName == "pick").get.signature == "pick((address))")
  }

  test("F3: CONFLICTING same-name defs across files poison resolution, never pick a side") {
    // two vendored versions of one library whose struct layout changed:
    // both files define file-level `struct Config` under the SAME
    // (scope, name) key with DIFFERENT members — expanding through
    // either would hash a confidently wrong selector, so the merge
    // poisons the key (solc itself errors on such an artifact)
    val v1 = "struct Config { uint a; }\ncontract LibV1 { }"
    val v2 = "struct Config { address a; uint b; }\n" +
      "contract User { function f(Config c) public {} }"
    val fns = ScannerBackend.extractAll(Seq(("v1.sol", v1), ("v2.sol", v2)))
    val f = fns.collect { case (_, fn) if fn.functionName == "f" => fn }.head
    assert(!f.resolved && f.selector == null)
    assert(f.signature == "f(Config)")
    // IDENTICAL duplicated defs (the common vendored-twice case) are no
    // conflict — either copy serves
    val dup = "struct P { uint x; }"
    val fns2 = ScannerBackend.extractAll(Seq(("a.sol", dup),
      ("b.sol", dup + "\ncontract C { function g(P p) public {} }")))
    val g = fns2.collect { case (_, fn) if fn.functionName == "g" => fn }.head
    assert(g.resolved && g.signature == "g((uint256))")
  }

  test("F3: user types resolve ACROSS an artifact's files (extractAll)") {
    // the fixture posture: the interface is DEFINED in a sibling
    // vendored file of the same artifact — per-file scope cannot see it,
    // the artifact-wide table can (the solc compilation-unit semantics)
    val iface = "interface IToken { function t() external; }"
    val user = "contract Vault { function sweep(IToken tok) public {} }"
    val perFile = Solidity.extractFunctions(user)
    assert(!perFile.head.resolved) // file-local scope: IToken unknown
    val all = ScannerBackend.extractAll(
      Seq(("IToken.sol", iface), ("Vault.sol", user)))
    val sweep = all.collect {
      case (_, fn) if fn.functionName == "sweep" => fn
    }.head
    assert(sweep.resolved)
    assert(sweep.signature == "sweep(address)")
    assert(sweep.selector == Keccak.selector("sweep(address)"))
  }

  test("U2/F4: function table derivation end-to-end") {
    TestSpark.assumeReferenceContracts()
    val fns = Derive.functionTable(spark, graft.queries.ContractQueries.fixtureRoot)
    val rows = fns.collect()
    assert(rows.length > 20) // demo (4) + Bueno721Drop OpenZeppelin tree
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // F4 id definition: selector-keyed when resolved, signature-keyed when
    // the scanner flags an unresolvable param type (selector = null)
    rows.take(5).foreach { r =>
      val key = if (r.getAs[String]("selector") != null)
        r.getAs[String]("selector") else r.getAs[String]("signature")
      assert(r.getAs[String]("id") ==
        md5((r.getAs[String]("contract_id") + r.getAs[String]("filename") + key)
          .replaceAll("(?U)\\s+", "")))
    }
    // resolved rows carry 4-byte hex selectors; flagged rows carry null
    assert(rows.forall { r =>
      if (r.getAs[Boolean]("resolved"))
        r.getAs[String]("selector").matches("0x[0-9a-f]{8}")
      else r.getAs[String]("selector") == null
    })
    assert(rows.exists(_.getAs[Boolean]("resolved"))) // not everything flagged
    // demo Counter functions present with their defining contract
    val counterFns = rows.filter(_.getAs[String]("contract_name") == "Counter")
    assert(counterFns.map(_.getAs[String]("signature")).toSet ==
      Set("increment()", "decrement()", "getCount()"))
  }

  test("S11: export sink sanitizes paths and defaults extensions") {
    assert(Export.sanitizePath("../../etc/passwd") == "etc/passwd")
    assert(Export.sanitizePath("/abs/path.sol") == "abs/path.sol")
    assert(Export.sanitizePath("a/./b.sol") == "a/b.sol")
    assert(Export.defaultExtension("Counter", Set("Counter")) == "Counter.sol")
    assert(Export.defaultExtension("Counter", Set("Counter", "Counter.sol")) == "Counter")
    assert(Export.defaultExtension("Counter.sol", Set()) == "Counter.sol")

    TestSpark.assumeReferenceContracts()
    val id = Ingest.metadataContracts(spark, root).collect().head.getAs[String]("id")
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    val written = Export.exportSource(spark, root, id, out)
    assert(written.length == 4)
    assert(written.forall(java.nio.file.Files.exists(_)))
    val counter = written.find(_.getFileName.toString == "Counter.sol").get
    assert(java.nio.file.Files.readString(counter).contains("function decrement()"))
  }

  test("fixtureRoot without the reference fixtures names the missing path and leaves no stage") {
    assume(!TestSpark.referenceContractsPresent,
      s"reference contract fixtures present at $root — no missing-source path to check")
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get("/tmp")
    def stages(): Set[String] =
      scala.util.Using.resource(java.nio.file.Files.list(tmp)) { l =>
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft-fixture-stage")).toSet
      }
    val before = stages()
    val e = intercept[IllegalArgumentException](
      graft.queries.ContractQueries.fixtureRoot)
    assert(e.getMessage.contains(root))
    assert(stages() -- before == Set.empty[String])
  }

  test("S9: same-content, same-name folders keep the row whose metadata sorts first") {
    import java.nio.file.Files
    val source = "pragma solidity ^0.8.0;\ncontract Twin {\n" +
      "    function ping() external {}\n}\n"
    // both folder orders: the survivor must not depend on which is read first
    for (versions <- Seq(Seq("0.8.20", "0.8.19"), Seq("0.8.19", "0.8.20"))) {
      val tree = Files.createTempDirectory("graft-ingest-tie")
      for ((dir, version) <- Seq("A_0", "B_1").zip(versions)) {
        Files.createDirectories(tree.resolve(dir))
        Files.writeString(tree.resolve(s"$dir/main.sol"), source)
        Files.writeString(tree.resolve(s"$dir/metadata.json"),
          s"""{"ContractName": "Twin", "CompilerVersion": "$version", """ +
            """"Runs": 200, "OptimizationUsed": true, "BytecodeHash": "0x01"}""")
      }
      val rows = Ingest.contracts(spark, tree.toString)
        .select(col("name"), col("metadata.compiler_version")).collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq
        == Seq(("Twin", "0.8.19")), versions)
    }
  }
}
