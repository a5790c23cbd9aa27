package graft.contracts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1–S4: build the `contract` table from a directory tree of verified
  * contract sources — the Spark re-expression of the reference's
  * `pre-process` ingest (`main.rs:90-160`, `plain_contract.rs:252-320`).
  *
  * Fidelity notes (each mirrors the reference exactly):
  *  - classification and file listing are TOP-LEVEL only — the reference
  *    probes `{dir}/contract.json|main.sol|main.vy` and lists multi_sol
  *    sources with a non-recursive read_dir (`plain_contract.rs:142-163,
  *    293-295`);
  *  - a standard-json contract is stored as ONE `contract.json` file (the
  *    unwrapped blob) in both ingest paths — explosion into its `sources`
  *    happens downstream via [[SourceFiles.expand]], so the content id
  *    (md5 of the stripped blob) is identical whichever path a contract
  *    arrives through;
  *  - Etherscan single-source fallback uses the fixed name `main.sol`
  *    (`plain_contract.rs:276`).
  *
  * Spark shape: `binaryFile` scans, per-folder group, pure column
  * expressions. Nothing is cached, so one [[contracts]] call lists the
  * tree four times and reads every file's content three times: the
  * metadata.json parse, the per-folder file group and the Etherscan
  * candidates each scan the whole tree with `content` selected (the
  * metadata-folder exclusion selects only paths). At 100 TB each scan
  * parallelizes per file; the only shuffles are the per-folder groupBy,
  * the id keep-first and the id-dedup in the sink.
  */
object Ingest {

  /** Raw recursive file scan → (path, dir, fname, content:string). */
  def scanTree(s: SparkSession, root: String): DataFrame =
    s.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(col("path"),
        regexp_replace(col("path"), "/[^/]+$", "").as("dir"),
        regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        col("content").cast("string").as("content"))

  private val metaSchema = StructType(Seq(
    StructField("ContractName", StringType),
    StructField("CompilerVersion", StringType),
    StructField("Runs", StringType),
    StructField("OptimizationUsed", StringType),
    StructField("BytecodeHash", StringType)))

  /** Lossy Etherscan-style coercions (F7, `plain_contract.rs:52-62`).
    * `alias` is the name the struct column is bound to in the caller's
    * frame — `try_cast` is only reachable through SQL text, so the
    * reference has to be by name.
    */
  private def metaStruct(m: Column, alias: String) = struct(
    m.getField("ContractName").as("contract_name"),
    m.getField("CompilerVersion").as("compiler_version"),
    coalesce(expr(s"try_cast($alias.Runs AS INT)"), lit(0)).as("runs"),
    (m.getField("OptimizationUsed").isin("1", "true")).as("optimization_used"),
    coalesce(m.getField("BytecodeHash"), lit("")).as("bytecode_hash"))

  /** S1+S3: metadata-folder contracts (fiesta layout, `main.rs:90-115` +
    * `plain_contract.rs:284-320`). Each dir containing `metadata.json`
    * becomes one contract; its TOP-LEVEL files classify it:
    * contract.json → json, main.sol → single_sol, main.vy → vyper,
    * else all top-level *.sol → multi_sol.
    */
  def metadataContracts(s: SparkSession, root: String): DataFrame =
    metadataContracts(scanTree(s, root))

  private[contracts] def metadataContracts(files: DataFrame): DataFrame = {
    val metaDirs = files.filter(col("fname") === "metadata.json")
      .select(col("dir").as("cdir"), from_json(col("content"), metaSchema).as("m"))
    // top-level ownership only, like the reference's read_dir
    val grouped = files.filter(col("fname") =!= "metadata.json")
      .join(broadcast(metaDirs), col("dir") === col("cdir"))
      .groupBy(col("cdir"), col("m"))
      .agg(collect_list(struct(col("fname").as("name"), col("content").as("content")))
        .as("allfiles"))
    val names = transform(col("allfiles"), f => f.getField("name"))
    val classified = grouped.withColumn("source_type",
      when(array_contains(names, "contract.json"), "json")
        .when(array_contains(names, "main.sol"), "single_sol")
        .when(array_contains(names, "main.vy"), "vyper")
        .otherwise("multi_sol"))
    // files kept per variant (`plain_contract.rs:288-320`): the designated
    // file for json/single/vyper; every top-level *.sol for multi_sol
    val kept = when(col("source_type") === "json",
        filter(col("allfiles"), f => f.getField("name") === "contract.json"))
      .when(col("source_type") === "single_sol",
        filter(col("allfiles"), f => f.getField("name") === "main.sol"))
      .when(col("source_type") === "vyper",
        filter(col("allfiles"), f => f.getField("name") === "main.vy"))
      .otherwise(filter(col("allfiles"), f => f.getField("name").endsWith(".sol")))
    classified
      .withColumn("files", array_sort(kept))
      .withColumn("id", contentId(col("files")))
      .select(col("id"), col("m").getField("ContractName").as("name"),
        metaStruct(col("m"), "m").as("metadata"), col("source_type"), col("files"))
  }

  /** F1/A2 content id (`plain_contract.rs:166-181`): single file → md5 of
    * whitespace-stripped content; multi-file → md5 of the sorted per-file
    * hashes concatenated (order-insensitive multiset hash).
    */
  def contentId(files: Column): Column = {
    // the shared Unicode-whitespace strip (Hashing.WsPattern), matching
    // the Rust regex `\s` the reference hashes with (utils.rs:12-17)
    val perFile = transform(files,
      f => md5(regexp_replace(f.getField("content"),
        graft.functions.Hashing.WsPattern, "")))
    when(size(files) === 1, element_at(perFile, 1))
      .otherwise(md5(concat_ws("", array_sort(perFile))))
  }

  /** S2+S4: Etherscan verified-contract dumps (`main.rs:118-160`,
    * `plain_contract.rs:252-281`). Candidates are *.json files outside
    * metadata folders whose name starts with their parent folder's name
    * (`main.rs:136-142`) — applied UNIFORMLY: for a file directly under
    * the scan root the "parent folder" is the root directory itself, so
    * its basename is the required prefix, exactly as the reference's
    * `parent.file_name()` resolves there. (A root-level `addr_Name.json`
    * is therefore skipped unless the root dir is named `addr…` — ingest
    * such files via [[etherscanJson]], the `from_etherscan_json` analog.)
    * `SourceCode` is stored as ONE file: `contract.json` (unwrapped
    * standard-json) or `main.sol` (plain source).
    */
  def etherscanContracts(s: SparkSession, root: String): DataFrame =
    etherscanContracts(scanTree(s, root), root)

  private[contracts] def etherscanContracts(files: DataFrame, root: String): DataFrame = {
    val metaDirSet = files.filter(col("fname") === "metadata.json")
      .select(col("dir").as("mdir"))
    // exclusion uses the PREFIX rule: any file under a metadata folder (at
    // any depth) belongs to that contract, never to the etherscan path
    val cands = files
      .filter(lower(col("fname")).endsWith(".json") && col("fname") =!= "metadata.json")
      .filter(col("fname").startsWith(regexp_extract(col("dir"), "([^/]+)$", 1)))
      .join(broadcast(metaDirSet),
        col("dir") === col("mdir") || col("path").startsWith(concat(col("mdir"), lit("/"))),
        "left_anti")
    parseEtherscan(cands)
  }

  /** S2 per-file entry — the `from_etherscan_json` analog
    * (`plain_contract.rs:252-281`): ingest ONE dump file directly, no
    * folder-prefix filter (the reference's own golden test uses this path
    * for its root-level fixture, `plain_contract.rs:580-581`).
    */
  def etherscanJson(s: SparkSession, path: String): DataFrame =
    parseEtherscan(scanTree(s, path))

  private def parseEtherscan(cands: DataFrame): DataFrame = {
    val unwrapped = cands
      .filter(get_json_object(col("content"), "$.SourceCode").isNotNull)
      .withColumn("sc", get_json_object(col("content"), "$.SourceCode"))
      // F12 double-brace unwrap (`plain_contract.rs:258-263`)
      .withColumn("sc", when(col("sc").startsWith("{{"),
        expr("substring(sc, 2, length(sc) - 2)")).otherwise(col("sc")))
      .withColumn("m", from_json(col("content"), metaSchema))
      // classification probe only — the blob itself stays one file
      .withColumn("isStdJson",
        from_json(get_json_object(col("sc"), "$.sources"),
          MapType(StringType, StructType(Seq(StructField("content", StringType)))))
          .isNotNull)
    unwrapped
      .withColumn("source_type", when(col("isStdJson"), "json").otherwise("single_sol"))
      .withColumn("files", array(struct(
        when(col("isStdJson"), "contract.json").otherwise("main.sol").as("name"),
        col("sc").as("content"))))
      .withColumn("id", contentId(col("files")))
      .select(col("id"), col("m").getField("ContractName").as("name"),
        metaStruct(col("m"), "m").as("metadata"), col("source_type"), col("files"))
  }

  /** Full contract table: both sources, PK-deduped on content id with
    * deterministic precedence (metadata-folder row wins over an etherscan
    * duplicate — S9 keep-first, `db.rs:172-196`), then the smaller name,
    * then the remaining payload columns, so the survivor never depends on
    * shuffle order. Each source branch reads the tree's files itself: a
    * persisted scan would outlive the call, and a later call over the
    * same root would match it in the cache and miss files added since.
    */
  def contracts(s: SparkSession, root: String): DataFrame = {
    val files = scanTree(s, root)
    val both = metadataContracts(files).withColumn("__prio", lit(0))
      .unionByName(etherscanContracts(files, root).withColumn("__prio", lit(1)))
    val w = Window.partitionBy("id").orderBy(
      (Seq("__prio", "name") ++ both.columns.filterNot(Set("id", "__prio", "name")))
        .map(col): _*)
    both.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__prio", "__rn")
  }
}
