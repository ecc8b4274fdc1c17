package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Ckpt, GraftExtensions}
import graft.sources.{PgCopySink, PgDdl}
import graft.wikidata.{Etl, TypedValues, Wd}

/** One benchmark process: set up, run one workload's iteration back to
  * back for a fixed time (a closed loop with one client), and write
  * what it measured as JSON for run.py, which checks outputs and prints
  * the result line.
  *
  * Workloads:
  *  - wd_load_bz2: `Etl.loadFrame` over the bz2 dump, written by
  *    `PgCopySink(perPartition = true)` into a freshly created table
  *    (the `etl_wikidata_pg` load without its read-back);
  *  - wd_read_plain: five `Wd` read queries over the plain dump, each
  *    fully materialised through the noop sink.
  *
  * Untraced (--trace 0) the process times iterations only. Traced
  * (--trace 1) each round runs an untraced iteration, the pipeline's
  * prefixes each materialised to the noop sink, and a traced iteration
  * with Spark listeners on; layer self times are differences of
  * consecutive prefixes.
  */
object Bench {
  val Table = "perfbench_statements"
  val ReadKeys = Seq("wd_entity_flatten", "wd_property_stats",
    "wd_statements_truthy", "wd_statements_resolved", "wd_datatype_check")
  /** Set-up rounds per process; `setup_s` is their median. */
  val SetupRounds = 3
  val Cores = Runtime.getRuntime.availableProcessors

  final case class Opts(a: Map[String, String]) {
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dump = a("dump")
    val work = a("work")
    val negative = a.get("negative").contains("1")
    val load = workload == "wd_load_bz2"
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    require(Set("wd_load_bz2", "wd_read_plain")(o.workload),
      s"unknown workload ${o.workload}")
    val pg = new Pg(Paths.get(o.work, "pgdata").toString, o.a("pg-port").toInt,
      o.a("pg-prefix").split(" ").filter(_.nonEmpty).toSeq)
    val b = new Bench(o, pg)
    try b.run() finally b.close()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def peakRssMb: Double = {
    val l = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toDouble / 1024
  }
}

final class Bench(o: Bench.Opts, pg: Pg) {
  import Bench._

  private var spark: SparkSession = _
  private val out = ArrayBuffer.empty[(String, Any)]
  private val spans = new Spans(o.trace)
  private val counters = new Counters
  private var ddl: String = _

  private def session(round: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      // a fresh stage dir per set-up round, so each round stages anew
      .config("spark.graft.stage.dir", Paths.get(o.work, s"stage-$round").toString)
      .config("spark.graft.wd.path", o.dump)
      .config("spark.graft.wd.bz2", o.dump)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- one iteration of each workload --------------------------------

  /** Untimed: a fresh target, and a checkpoint so WAL state does not
    * carry over from the previous load. */
  private def freshTarget(): Unit = {
    pg.sql(s"DROP TABLE IF EXISTS $Table")
    pg.sql(ddl)
    pg.sql("CHECKPOINT")
  }

  /** The timed load; its wall seconds. */
  private def load(): Double =
    spans.span("iteration.load") {
      val (frame, _) = spans.span("wikidata.Etl.loadFrame")(Etl.loadFrame(spark))
      val sink = PgCopySink(pg.host, pg.port, pg.db, Table, perPartition = true)
      spans.span("sources.PgCopySink.write")(sink.write(frame))
    }._2

  /** The timed read, every key fully materialised; its wall seconds. */
  private def read(): Double =
    spans.span("iteration.read") {
      ReadKeys.foreach(k => spans.span(s"wikidata.Wd.$k")(noop(Wd.queries(k)(spark, ""))))
    }._2

  /** One iteration and its outcome: (wall seconds, rows, error). */
  private def iteration(): (Double, Long, Option[String]) =
    try {
      if (o.load) {
        freshTarget()
        val dt = load()
        if (o.negative) pg.sql(
          s"DELETE FROM $Table WHERE ctid = (SELECT min(ctid) FROM $Table)")
        (dt, pg.long(s"SELECT count(*) FROM $Table"), None)
      } else {
        (read(), 0L, None)
      }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: iteration failed: ${e.getClass.getName}: ${e.getMessage}")
        (Double.NaN, -1L, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally Ckpt.releaseScratch()

  // ---- set-up ---------------------------------------------------------

  /** Set-up round: Postgres, session, and one untimed warm-up
    * iteration. The first round also pays JVM start. */
  private def setupRound(round: Int): Double = {
    val t0 = System.nanoTime()
    pg.start()
    spark = session(round)
    if (o.load && ddl == null)
      ddl = PgDdl.createTable(Table, Etl.loadFrame(spark).schema)
    val (_, _, err) = iteration()
    err.foreach(e => sys.error(s"warm-up iteration failed: $e"))
    (System.nanoTime() - t0) / 1e9
  }

  private def teardown(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
    pg.stop()
  }

  def run(): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val boot = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rounds = (0 until SetupRounds).map { r =>
      if (r > 0) teardown()
      setupRound(r) + (if (r == 0) boot else 0.0)
    }
    out += "setup_s" -> rounds
    out += "cores" -> Cores
    // One untimed pass between set-up and the timed loop: the first
    // iterations on a new session still run slow. For reads the pass
    // writes the outputs run.py checks; a load's check reads the table
    // its last timed iteration loaded.
    if (o.load) iteration() else writeReadOutputs()
    if (o.trace) traced() else untraced()
    if (o.load) exportTable()
    out += "peak_rss_mb" -> peakRssMb
    out += "oracle_fixture" -> Wd.fixturePath
    out += "oracles" -> (if (o.load) Map("load" -> Etl.oracles("etl_wikidata_pg"))
                         else ReadKeys.map(k => k -> Wd.oracles(k)).toMap)
  }

  private def untraced(): Unit = {
    val iters = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while (iters.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      spans.iter += 1
      val (dt, rows, err) = iteration()
      iters += Map("wall_s" -> dt, "rows" -> rows, "error" -> err.orNull)
    }
    out += "iters" -> iters.toSeq
  }

  // ---- traced run -----------------------------------------------------

  private def dumpBytes: Long = {
    val fs = Files.list(Paths.get(o.dump))
    try fs.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-"))
      .map(Files.size).sum
    finally fs.close()
  }

  /** Noop-materialise each prefix of the pipeline; seconds per prefix. */
  private def prefixes(): Map[String, Double] = {
    def t(name: String)(df: => DataFrame): (String, Double) =
      name -> spans.span(s"prefix.$name")(noop(df))._2
    val base = Seq(
      t("text")(spark.read.text(o.dump)),
      t("entitiesRaw")(Wd.entitiesRaw(spark)),
      t("claimsFlatten")(Wd.claimsFlatten(Wd.entities(spark))))
    val load = if (!o.load) Nil else Seq(
      t("typed")(TypedValues.typed(Wd.claimsFlatten(Wd.entities(spark)))),
      t("loadFrame")(Etl.loadFrame(spark)))
    (base ++ load).toMap
  }

  private def traced(): Unit = {
    val walU, walT = ArrayBuffer.empty[Double]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val errors = ArrayBuffer.empty[String]
    val bytes = dumpBytes.toDouble
    val t0 = System.nanoTime()
    // at least three rounds, so the medians have a middle
    while (layers.size < 3 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      spans.iter += 1
      // the untraced iteration goes first in odd rounds, last in even
      // ones, so warm-up drift does not bias the overhead
      val untracedFirst = layers.size % 2 == 0
      val first = if (untracedFirst) Some(iteration()) else None
      counters.attach(spark)
      val p = prefixes()
      val wal0 = if (o.load) pg.long("SELECT wal_bytes FROM pg_stat_wal") else 0L
      counters.take(spark)
      val (t, _, et) = iteration()
      val c = counters.take(spark)
      counters.detach(spark)
      val m = ArrayBuffer[(String, Double)](
        "wikidata.decompress_s" -> p("text"),
        "wikidata.parse_s" -> (p("entitiesRaw") - p("text")),
        "wikidata.flatten_s" -> (p("claimsFlatten") - p("entitiesRaw")),
        "wikidata.scans_per_dump" -> c("spark.input_mb") * 1024 * 1024 / bytes,
        "spark.core_util" -> c("spark.task_s") / (t * Cores))
      m ++= c
      if (o.load) {
        m += "wikidata.typed_s" -> (p("typed") - p("claimsFlatten"))
        m += "wikidata.label_join_s" -> (p("loadFrame") - p("typed"))
        m += "sources.copy_stage_s" -> PgCopySink.lastStageSec
        m += "sources.promote_s" -> PgCopySink.lastPromoteSec
        m += "sources.sink_exposed_s" -> (t - p("loadFrame"))
        m += "sources.staging_left" -> pg.long(
          s"SELECT count(*) FROM pg_tables WHERE tablename LIKE '${Table}\\_\\_stg\\_%'").toDouble
        m += "pg.wal_mb" -> (pg.long("SELECT wal_bytes FROM pg_stat_wal") - wal0) / 1048576.0
        m += "pg.table_mb" -> pg.long(
          s"SELECT pg_total_relation_size('$Table')") / 1048576.0
      } else {
        val keyS = spans.seconds(spans.iter)
        ReadKeys.foreach(k => m += s"read.${k}_s" -> keyS(s"wikidata.Wd.$k"))
      }
      val (u, _, eu) = first.getOrElse(iteration())
      walU += u
      walT += t
      (eu ++ et).foreach(errors += _)
      layers += m.toMap
    }
    val names = layers.flatMap(_.keys).distinct
    val agg = names.map(n => n -> median(layers.map(_.getOrElse(n, Double.NaN)).toSeq)).toMap
    out += "layers" -> (agg + ("trace.overhead_s" -> (median(walT.toSeq) - median(walU.toSeq))))
    out += "trace_iters" -> layers.size
    out += "errors" -> errors.toSeq
    Files.write(Paths.get(o.work, "trace.json"), spans.json.getBytes("UTF-8"))
  }

  // ---- outputs for run.py's checks -----------------------------------

  private def exportTable(): Unit = {
    val csv = Paths.get(o.work, "loaded.csv").toString
    val rc = scala.sys.process.Process(Seq("psql", "-h", pg.host, "-p", pg.port.toString,
      "-d", pg.db, "-v", "ON_ERROR_STOP=1", "-c",
      s"\\copy $Table TO '$csv' WITH (FORMAT csv)")).!
    require(rc == 0, s"export of $Table failed with exit $rc")
    out += "loaded_csv" -> csv
  }

  /** Every read key's full result as parquet, and its row count. */
  private def writeReadOutputs(): Unit = {
    val files = ReadKeys.map { k =>
      val f = Paths.get(o.work, "out", s"$k.parquet").toString
      Wd.queries(k)(spark, "").write.mode("overwrite").parquet(f)
      val n = spark.read.parquet(f).count()
      if (o.negative) {
        val cut = Paths.get(o.work, "out", s"$k.cut.parquet").toString
        spark.read.parquet(f).limit((n - 1).toInt).write.parquet(cut)
        k -> Map("path" -> cut, "rows" -> n)
      } else k -> Map("path" -> f, "rows" -> n)
    }
    out += "read_outputs" -> files.toMap
  }

  def close(): Unit = {
    try if (spark != null) spark.stop()
    finally {
      try if (pg.running) pg.stop()
      finally {
        implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
        Files.write(Paths.get(o.a("out")),
          org.json4s.jackson.Serialization.write(out.toMap).getBytes("UTF-8"))
      }
    }
  }
}
