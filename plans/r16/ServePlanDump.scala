package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.StreamingOps

/** Dumps the optimized plans of every serve tier's build, search and
  * refresh on an sf0.001 index, expression ids stripped, plus each
  * parquet-round-tripped artifact's schema, sections and meta keys.
  *
  * Run: sbt "Test/runMain graft.ServePlanDump <sfDir> <workDir> <outDir>" */
object ServePlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sf, work, out) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(out).mkdirs()
    def strip(s: String) = s.replaceAll("#\\d+L?", "#")
      .replaceAll("(?m)[ \t]+$", "")
    def dump(name: String, df: DataFrame): Unit = {
      val w = new java.io.PrintWriter(s"$out/$name.txt")
      try w.println(strip(df.queryExecution.optimizedPlan.toString))
      finally w.close()
    }
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = s"$work/idx"
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx, stride = 100)
    var n = 0
    def rt(df: DataFrame): DataFrame = {
      n += 1
      val p = s"$work/state_$n"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "float" -> (() => StreamingOps.annServeState(spark, idx)),
      "pq" -> (() => StreamingOps.annServePqState(spark, idx)),
      "hamming" -> (() => StreamingOps.annServeHammingState(spark, idx)),
      "int8" -> (() => StreamingOps.annServeInt8State(spark, idx)))
    val q = e.where(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
    def search(t: String, st: DataFrame): DataFrame = t match {
      case "float" => StreamingOps.annSearchStream(q, st, 10)
      case "pq" => StreamingOps.annSearchStreamPq(q, st, 10)
      case "hamming" => StreamingOps.annSearchStreamHamming(q, st, 10)
      case _ => StreamingOps.annSearchStreamInt8(q, st, 10)
    }
    val fmt = new java.io.PrintWriter(s"$out/format.txt")
    val states = builds.map { case (t, b) =>
      val built = b()
      dump(s"$t.build", built)
      val st = rt(built)
      dump(s"$t.search", search(t, st))
      fmt.println(s"$t columns: " + st.schema.fields
        .map(f => s"${f.name} ${f.dataType.simpleString}").mkString(" | "))
      fmt.println(s"$t sections: " + st.select("section").distinct()
        .collect().map(_.getString(0)).sorted.mkString(","))
      fmt.println(s"$t meta keys: " + st.where(col("section") === "meta")
        .select("meta").head().getString(0).split(';').map(_.split('=')(0))
        .sorted.mkString(","))
      t -> st
    }
    fmt.close()
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx)
    states.foreach { case (t, st) =>
      dump(s"$t.refresh", StreamingOps.refreshAnnServeState(spark, idx, st))
    }
    Similarity.deleteFromAnnIndex(spark, e.where(col("vec_id") % 4 === 2 && col("vec_id") % 25 =!= 0), idx)
    builds.foreach { case (t, b) => dump(s"$t.build_deleted", b()) }
    spark.stop()
  }
}
