import graft.pipeline.{Admission, LinkJob}
import org.apache.spark.sql.SparkSession

/** One cold day run, as perfbench's DayRun.runDay makes it, with wall-clock
  * marks (epoch ms) between the calls; Spark's event log gives the jobs and
  * stages inside them. Args: <spans.parquet> <day> <cap> <out dir> <marks.json> */
object FirstRunSplit {
  def main(args: Array[String]): Unit = {
    val Array(input, day, cap, out, marksOut) = args
    val spark = SparkSession.builder()
      .master("local[4]").appName("firstrunsplit")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val marks = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def mark(n: String): Unit = marks += n -> System.currentTimeMillis()
    mark("start")
    val raw = spark.read.parquet(input); mark("schema")
    val spans = LinkJob.fromJsonV2Shape(raw); mark("shape")
    val links = LinkJob.linkSpans(spans, day, Admission.RootInWindow, strict = false,
      maxSpansPerTrace = cap.toInt).persist(); mark("link")
    val empty = links.isEmpty; mark("isEmpty")
    if (!empty) LinkJob.writeLinks(links, day, out)
    mark("sink")
    links.unpersist()
    val json = marks.map { case (n, t) => s""""$n": $t""" }.mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(marksOut), json.getBytes)
    spark.stop()
  }
}
