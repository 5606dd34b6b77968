package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.ops.{FeatureStoreOps, FeatureView, LatestStore, TextAnalysis}
import graft.sources.GraftSource
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one closed-loop client that runs a workload's
  * op plan against the library and records what happened. It reads
  * `params.json` (written by run.py) and writes `result.json`; every output
  * check and every metric is computed by run.py from that file and the
  * outputs written here.
  *
  * The plan's ops come in blocks: the warm-up blocks run untimed, then whole
  * blocks run until `seconds` of op time have passed. In a traced run each
  * of those blocks also runs once with the tracer installed, so the tracing
  * overhead is the difference of the two variants' wall times.
  */
object Main {
  val mapper = new ObjectMapper()

  final case class OpRec(seq: Int, id: Int, kind: String, phase: String,
      t0Us: Long, wallS: Double, error: Option[String], leftover: Int)

  def main(args: Array[String]): Unit = {
    val p = mapper.readTree(new File(args(0)))
    val work = p.get("work_dir").asText
    val data = p.get("data_dir").asText
    val out = s"$work/out"
    val workload = p.get("workload").asText
    val cores = p.get("cores").asInt
    val traced = p.get("trace").asBoolean
    val plan = mapper.readTree(new File(s"$data/plan.json"))
    val ops = plan.get("ops").elements().asScala.toVector

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // 4 shuffle partitions per core: with only one per core the Zipf-hot
      // key's task alone sets a stage's time on train_pit_large
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(p.get("confs").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "serve_small" => new ServeSmall(spark, data, out)
      case "train_pit_large" => new TrainPitLarge(spark, data, out)
      case "corpus_prep" => new CorpusPrep(spark, data, out)
    }
    val recs = mutable.ArrayBuffer.empty[OpRec]

    def runOp(op: JsonNode, phase: String, tr: Trace): OpRec = {
      val seq = recs.size
      val id = op.get("id").asInt
      val kind = op.get("kind").asText
      tr.beginOp(seq, kind)
      val t0 = tr.nowUs()
      val n0 = System.nanoTime()
      val result = try Right(w.run(op, tr)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - n0) / 1e9
      tr.endOp()
      // outside the op's window: keep its output for the check, then drop
      // every persisted RDD still registered (blocking), counting them
      result.foreach(keep => keep(seq))
      val left = spark.sparkContext.getPersistentRDDs.values.toSeq
      if (tr.enabled) {
        org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 60000)
        tr.opCounters(seq).materialized ++= left.map(_.id)
        tr.idle()
      }
      left.foreach(_.unpersist(blocking = true))
      val r = OpRec(seq, id, kind, phase, t0, wall,
        result.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(300)),
        left.size)
      recs += r
      r
    }

    w.setup()
    val untraced = new Trace(spark.sparkContext, enabled = false)
    val blocks = ops.groupBy(_.get("block").asInt).toSeq.sortBy(_._1).map(_._2)
    val (warm, rest) = blocks.partition(_.head.get("warmup").asBoolean)
    warm.flatten.foreach(runOp(_, "warmup", untraced))
    val firstOpUs = untraced.nowUs()
    // the timed window closes at the first block boundary after `seconds`
    // of untraced ops, so every run executes whole blocks and the op mix is
    // exact. Traced run: each block runs untraced and traced, alternating
    // which goes first, so JIT warm-up does not bias the overhead estimate.
    val tracer = if (traced) Some(new Trace(spark.sparkContext, enabled = true)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val seconds = p.get("seconds").asDouble
    val next = Iterator.continually(rest).flatten
    var (elapsed, i) = (0.0, 0)
    while (elapsed < seconds || (traced && i % 2 == 1)) {
      val b = next.next()
      def timedBlock(): Unit = elapsed += b.map(runOp(_, "timed", untraced).wallS).sum
      val first = tracer.isEmpty || i % 2 == 0
      if (first) timedBlock()
      tracer.foreach(tr => b.foreach(runOp(_, "traced", tr)))
      if (!first) timedBlock()
      i += 1
    }
    tracer.foreach(spark.sparkContext.removeSparkListener)
    w.finish()

    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("first_op_epoch_us", firstOpUs)
    res.put("env", Map(
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "master" -> spark.sparkContext.master,
      "cores" -> cores).asJava)
    res.put("ops", recs.map(r => Map(
      "seq" -> r.seq, "id" -> r.id, "kind" -> r.kind, "phase" -> r.phase,
      "t0_us" -> r.t0Us, "wall_s" -> r.wallS, "error" -> r.error.orNull,
      "leftover_rdds" -> r.leftover).asJava).asJava)
    res.put("extra", w.extra.asJava)
    tracer.foreach { tr =>
      res.put("spans", tr.spans.map(s => Array[Any](s.id, s.parent, s.op, s.layer, s.name,
        s.t0Us, s.t1Us)).asJava)
      res.put("op_counters", recs.filter(_.phase == "traced").map { r =>
        val c = tr.opCounters(r.seq)
        (r.seq.toString, (c.c ++ Seq(
          "busy_s" -> busySeconds(c.taskIntervals.toSeq, r.t0Us / 1000L,
            r.t0Us / 1000L + (r.wallS * 1000).toLong),
          "materialize_rdds" -> c.materialized.size.toDouble) ++
          SqlNodes.metrics(spark, tr, c.sqlExecutions.toSeq)).asJava)
      }.toMap.asJava)
    }
    res.put("peak_rss_kb", vmHwmKb())
    mapper.writeValue(new File(s"$work/result.json"), res)
    spark.stop()
  }

  /** Length of the union of task intervals clipped to [lo, hi], seconds. */
  def busySeconds(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var (busy, end) = (0L, lo)
    for ((a, b) <- iv.sortBy(_._1)) {
      val (s, e) = (math.max(a, end), math.min(b, hi))
      if (e > s) { busy += e - s; end = e }
    }
    busy / 1e3
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

/** One workload: what set-up does, and what one op of each kind runs. `run`
  * returns a function that saves the op's output for the check; it is
  * called after the op's clock has stopped.
  */
abstract class Workload {
  def setup(): Unit = ()
  def run(op: JsonNode, tr: Trace): Int => Unit
  def finish(): Unit = ()
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** sf0.1-sized serving mix: point-in-time over two views (broadcast path),
  * pullLatest, readLatest probes, and upserts into a LatestStore.
  */
final class ServeSmall(spark: SparkSession, data: String, out: String) extends Workload {
  private val store = s"$out/store"
  private val buckets = 16
  private val events = GraftSource.of(name = Some("events"),
    table = Some(s"$data/events.parquet"), timestampField = Some("ts"))
  private val views = Seq(
    FeatureView("events", events, Seq("user_id"), Seq("value", "event_type"),
      ttlSeconds = 7L * 86400L, tieBreak = Some("event_id")),
    FeatureView("orders", GraftSource.of(name = Some("orders"),
      table = Some(s"$data/orders.parquet"), timestampField = Some("o_orderdate"),
      fieldMapping = Map("o_custkey" -> "user_id")),
      Seq("user_id"), Seq("o_totalprice", "o_orderstatus"), tieBreak = Some("o_orderkey")))
  private val plan = Main.mapper.readTree(new File(s"$data/plan.json"))

  private def upsert(lo: Long, hi: Long, tr: Trace): Unit = {
    val batch = tr.span("sources", "loadWithTimeRange")(
      events.loadWithTimeRange(spark, Some(Main.tsOf(lo)), Some(Main.tsOf(hi))))
    tr.span("ops", "upsertBatch")(LatestStore.upsertBatch(
      batch.select("user_id", "ts", "event_id", "value", "event_type"),
      store, "user_id", "ts", Seq("value", "event_type"), buckets, Some("event_id")))
  }

  override def setup(): Unit = {
    val sw = plan.get("seed_window")
    upsert(sw.get(0).asLong, sw.get(1).asLong, new Trace(spark.sparkContext, false))
  }

  private def dump(name: String, lines: Iterator[String]): Unit = {
    Files.createDirectories(Paths.get(s"$out/ops"))
    Files.write(Paths.get(s"$out/ops/$name"), lines.toSeq.asJava)
  }

  private def rowsJson(rows: Array[Row]): Iterator[String] = rows.iterator.map { r =>
    (0 until r.length).map { i =>
      r.get(i) match {
        case null => "null"
        case t: Timestamp => (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
        case s: String => Main.mapper.writeValueAsString(s)
        case v => v.toString
      }
    }.mkString("[", ",", "]")
  }

  def run(op: JsonNode, tr: Trace): Int => Unit = op.get("kind").asText match {
    case "pit" =>
      val ent = tr.span("sources", "load")(
        GraftSource.of(table = Some(s"$data/${op.get("entity").asText}")).load(spark))
      val job = tr.span("ops", "pointInTime")(FeatureStoreOps.pointInTime(spark, ent, views))
      tr.span("api", "toDF")(job.toDF)
      val batches = tr.span("api", "toArrowBatches")(job.toArrowBatches())
      seq => {
        Files.createDirectories(Paths.get(s"$out/ops"))
        val os = Files.newOutputStream(Paths.get(s"$out/ops/$seq.arrows"))
        try batches.foreach { b =>
          os.write(java.nio.ByteBuffer.allocate(4).putInt(b.length).array()); os.write(b)
        } finally os.close()
      }
    case "pull" =>
      val job = tr.span("ops", "pullLatest")(FeatureStoreOps.pullLatest(spark, events,
        Seq("user_id"), Seq("value", "event_type"), "ts", Some("event_id"),
        Main.tsOf(op.get("lo").asLong), Main.tsOf(op.get("hi").asLong)))
      tr.span("api", "toDF")(job.toDF)
      val rows = tr.span("api", "toLocal")(job.toLocal())
      seq => dump(s"$seq.jsonl", rowsJson(rows))
    case "probe" =>
      import spark.implicits._
      val keys = op.get("keys").elements().asScala.map(_.asLong).toSeq.toDF("user_id")
      val df = tr.span("ops", "readLatest")(LatestStore.readLatest(spark, store, "user_id",
        buckets, Some(keys)))
      val rows = tr.span("bench", "collect")(
        df.select("user_id", "ts", "event_id", "value", "event_type").collect())
      seq => dump(s"$seq.jsonl", rowsJson(rows))
    case "upsert" =>
      upsert(op.get("lo").asLong, op.get("hi").asLong, tr)
      _ => ()
  }

  override def finish(): Unit = {
    val all = LatestStore.readLatest(spark, store, "user_id", buckets)
    all.write.mode("overwrite").parquet(s"$out/readback")
    all.coalesce(1).write.mode("overwrite").parquet(s"$out/compact")
    def bytes(dir: String): Long = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    val siblings = Seq(store, s"$store.__tmp", s"$store.__prev").filter(d => Files.exists(Paths.get(d)))
    extra("store_bytes") = siblings.map(bytes).sum
    extra("store_files_live") = Files.walk(Paths.get(store)).iterator.asScala
      .count(f => f.getFileName.toString.endsWith(".parquet"))
    extra("compact_bytes") = bytes(s"$out/compact")
  }
}

/** Training-set build: a three-view point-in-time join on the shuffle
  * path (TTL, created-timestamp dedup, full feature names), persisted.
  */
final class TrainPitLarge(spark: SparkSession, data: String, out: String) extends Workload {
  private val views = Seq(
    FeatureView("events", GraftSource.of(name = Some("events"),
      table = Some(s"$data/events"), timestampField = Some("ts")),
      Seq("user_id"), Seq("value", "event_type"), 7L * 86400L, Some("event_id")),
    FeatureView("orders", GraftSource.of(name = Some("orders"),
      table = Some(s"$data/orders"), timestampField = Some("o_orderdate"),
      fieldMapping = Map("o_custkey" -> "user_id")),
      Seq("user_id"), Seq("o_totalprice", "o_orderstatus"), 0L, Some("o_orderkey")),
    FeatureView("corrections", GraftSource.of(name = Some("corrections"),
      table = Some(s"$data/corrections"), timestampField = Some("ts"),
      createdTimestampColumn = Some("created_ts")),
      Seq("user_id"), Seq("score"), 30L * 86400L, Some("corr_id")))
  private val entity = GraftSource.of(name = Some("entity"), table = Some(s"$data/entity"))

  def run(op: JsonNode, tr: Trace): Int => Unit = {
    val ent = tr.span("sources", "load")(entity.load(spark))
    val job = tr.span("ops", "pointInTime")(
      FeatureStoreOps.pointInTime(spark, ent, views, fullFeatureNames = true))
    tr.span("api", "toDF")(job.toDF)
    val dir = s"$out/train/${op.get("id").asInt}"
    tr.span("api", "persist")(job.persist(dir, allowOverwrite = true))
    _ => ()
  }
}

/** Corpus preparation: the full crawl-curation pipeline over the corpus and
  * its exact twins, then BPE training and encoding, both written as parquet.
  */
final class CorpusPrep(spark: SparkSession, data: String, out: String) extends Workload {
  private val docsSrc = GraftSource.of(name = Some("documents"), table = Some(s"$data/documents"))

  override def setup(): Unit = {
    // the DuckDB twins of the two outputs, reused from the library's oracle
    val sql = Map("crawl" -> SparkEntry.oracleSql("pipeline_crawl_full"),
      "bpe" -> SparkEntry.oracleSql("bpe_encode"))
    Main.mapper.writeValue(Paths.get(out).resolveSibling("oracle.json").toFile, sql.asJava)
  }

  def run(op: JsonNode, tr: Trace): Int => Unit = {
    val id = op.get("id").asInt
    val docs = tr.span("sources", "load")(docsSrc.load(spark))
    val d = docs.select("doc_id", "text")
    // the exact twins (id + 100002) are the pipeline_crawl_full query's
    // input shape, so its oracle applies unchanged
    val crawl = tr.span("ops", "crawlFullPipeline")(SparkEntry.crawlFullPipeline(
      d.unionByName(d.withColumn("doc_id", col("doc_id") + 100002L))))
    tr.span("bench", "write")(crawl.write.mode("overwrite").parquet(s"$out/crawl/$id"))
    val merges = tr.span("ops", "trainBpeMerges")(TextAnalysis.trainBpeMerges(docs, "text", 12))
    val enc = tr.span("ops", "bpeEncode")(TextAnalysis.bpeEncode(docs, "doc_id", "text", merges))
      .select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords_str"))
    tr.span("bench", "write")(enc.write.mode("overwrite").parquet(s"$out/bpe/$id"))
    _ => ()
  }
}

/** Per physical-operator kind: summed time metrics and output rows, read
  * from the SQL status store's plan graphs (populated with the UI off) and
  * valued from the accumulator updates the tracer collected. Executions of
  * one op can share plan nodes (a DataFrame run by two actions), so each
  * accumulator counts once.
  */
object SqlNodes {
  def metrics(spark: SparkSession, tr: Trace, execs: Seq[Long]): Seq[(String, Double)] = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    val seen = mutable.LinkedHashMap.empty[Long, (String, String, String)]
    for (e <- execs; node <- scala.util.Try(store.planGraph(e).allNodes).getOrElse(Nil);
         m <- node.metrics)
      seen.getOrElseUpdate(m.accumulatorId,
        (node.name.split(" \\(")(0).trim.replaceAll("[^A-Za-z0-9]+", "_"), m.name, m.metricType))
    val acc = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
    seen.foreach { case (id, (kind, name, tpe)) =>
      val v = tr.accumulated(id).toDouble
      tpe match {
        case "timing" => add(s"node.$kind.time_s", v / 1e3)
        case "nsTiming" => add(s"node.$kind.time_s", v / 1e9)
        case _ if name == "number of output rows" => add(s"node.$kind.rows_out", v)
        case _ =>
      }
    }
    acc.toSeq
  }
}
