package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}

/** Planted positives for the benchmark's own machinery. Each check must
  * catch a case built to trip it; the DuckDB half of the gate check runs
  * in run.py on the two dumps written here. */
object SelfTest {
  def run(spark: SparkSession, b: Bench): Unit = {
    // tail rule: highest nearest-rank percentile with >= 10 samples beyond
    val t24 = Stats.tail((1 to 24).map(_.toDouble))
    b.check("tail_24", t24.contains((58, 14.0)), t24)
    val t100 = Stats.tail((1 to 100).map(_.toDouble))
    b.check("tail_100", t100.contains((90, 90.0)), t100)
    b.check("tail_10_undefined", Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples")

    // self time on a synthetic tree with overlapping children
    val spans = Seq(Span("r", "r", "root", "call", None, 0, 100),
      Span("a", "r", "a", "batch", Some("r"), 10, 40),
      Span("b", "r", "b", "job", Some("r"), 30, 60),
      Span("a1", "r", "a1", "job", Some("a"), 15, 20))
    val self = Spans.selfTimes(spans)
    b.check("self_time", self == Map("r" -> 50.0, "a" -> 25.0, "b" -> 30.0, "a1" -> 5.0), self)
    val split = Spans.layerSplit(spans.head, Seq(spans(1)), Seq(spans(2), spans(3)))
    b.check("layer_split", split == Map("job" -> 35.0, "batch" -> 15.0, "driver" -> 50.0) &&
      split.values.sum == 100.0, split)

    // job attribution: one extra count() inside a call is exactly one job
    // (an RDD count: a Dataset count under adaptive execution also submits
    // its shuffle stage as a job of its own)
    val region = s"${b.outDir}/../data/region.parquet"
    val plain = () => spark.read.parquet(region).count()
    plain()
    val ((c0, c1), w) = b.traced {
      (b.call("plain", 0)(plain()), b.call("plus_one", 0)(plain() + spark.sparkContext.parallelize(1 to 10, 2).count()))
    }
    val jobs = Seq(c0, c1).map(c => w.jobs.count(_.callId.contains(c.id)))
    b.check("job_attribution", jobs(1) - jobs(0) == 1, jobs)
    b.check("fs_counting", c0.fs("open") >= 1 && w.fs.values.sum >= c0.fs.values.sum, c0.fs)
    // outside a traced phase the counting filesystem only passes through
    val untraced = b.call("untraced", 0)(plain())
    b.check("fs_counting_off_untraced", untraced.fs.values.forall(_ == 0), untraced.fs)

    // the correctness gate: a clean dump and one with a single corrupted row
    val q = graft.SparkEntry.registry.find(_.name == "q01_pricing_summary").get
    val df = q.fn(spark, s"${b.outDir}/../data")
    b.dump("q01_pricing_summary", df)
    val first = df.head()
    val hit = col("l_returnflag") === lit(first.getAs[String]("l_returnflag")) &&
      col("l_linestatus") === lit(first.getAs[String]("l_linestatus"))
    b.dump("q01_corrupted", df.withColumn("sum_qty",
      when(hit, col("sum_qty") + 1).otherwise(col("sum_qty"))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(b.outDir, "oracle_sql.json"),
      Json.write(Map("q01_pricing_summary" -> q.oracle.get, "q01_corrupted" -> q.oracle.get)))
  }
}
