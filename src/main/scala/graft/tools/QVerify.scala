package graft.tools

import java.nio.file.{Files, Paths}

/** Single-query correctness dump — the Verify flow restricted to named
  * queries, for fast operator iteration against tools/check_oracle.py:
  *
  *   sbt "runMain graft.tools.QVerify /root/testdata/sf0.01 /tmp/qv q_foo q_bar"
  *   python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/qv
  */
object QVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val spark = graft.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[qverify] wrote $name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
