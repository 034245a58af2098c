package perfbench

import org.apache.spark.sql.SparkSession

/** Records the expected `lake_queries` results: for every query in
  * [[LakeQueries.Names]], its row count and canonical hash
  * (`<out>/expected.json`), and its result as parquet under `<out>/<query>`
  * with the queries' DuckDB SQL in `<out>/oracle_sql.json`, the layout
  * `tools/oracle_check.py` compares. `perfbench/record.py` drives it.
  *
  *   Record <lake dir> <out dir>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(lake, out) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val oracle = graft.SparkEntry.oracleSql
    val entries = LakeQueries.Names.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, lake)
      val (rows, hash) = Canon.hash(df)
      df.write.mode("overwrite").parquet(s"$out/$q")
      spark.catalog.clearCache()
      s"""    ${Json.str(q)}: {"rows": $rows, "hash": ${Json.str(hash)}}"""
    }
    val sql = LakeQueries.Names.flatMap(q => oracle.get(q).map(s => s"${Json.str(q)}:${Json.str(s)}"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "oracle_sql.json"),
      sql.mkString("{", ",", "}").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "expected.json"),
      entries.mkString("{\n  \"queries\": {\n", ",\n", "\n  }\n}\n").getBytes("UTF-8"))
    spark.stop()
  }
}
