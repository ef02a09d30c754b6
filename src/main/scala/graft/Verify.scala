package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, FloatType, IntegerType, ShortType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Canonicalize output types for the oracle compare: DuckDB surfaces every
    * integer as BIGINT (int64) and every float as DOUBLE in the comparison
    * frame, while Spark emits int32 for size()/length()/row_number() etc.
    * Equal values in different physical widths hash differently on the
    * driver side, so widen narrow numeric columns uniformly. */
  def canonical(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType => col(f.name).cast("long").as(f.name)
        case FloatType                          => col(f.name).cast("double").as(f.name)
        case _                                  => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query names — local fast iteration
    // only; the driver always calls with (sfDir, outDir)
    val only: Set[String] = if (args.length > 2) args(2).split(",").toSet else Set.empty
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try canonical(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch {
          // per-query isolation is the contract (one broken query must not
          // zero the round's other 238 results), but NonFatal only — an
          // OOM/interrupt must crash the dump, not leave a silently
          // truncated artifact (same argument as Bench's r11 fix)
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
