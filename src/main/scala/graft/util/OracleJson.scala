package graft.util

import java.nio.file.{Files, Paths}

/** Serializes [[graft.SparkEntry.oracleSql]] as the driver-shaped
  * `oracle_sql.json`, written by Verify (the correctness dump) and read
  * by `tools/diff.py` and `tools/pair.py`.
  */
object OracleJson {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json: String = graft.SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def write(path: String): Unit =
    Files.writeString(Paths.get(path), json)
}
