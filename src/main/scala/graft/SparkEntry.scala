package graft

import java.sql.Timestamp
import java.time.Instant

import graft.ops.{Dedup, FeatureStoreOps, FeatureView, Multimodal, Similarity, TextAnalysis}
import graft.sources.{GraftSource, SourceFormat}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Every SQL-expressible operator has a `queries` entry and a DuckDB
  * `oracleSql` twin. Timestamps cross the Spark/DuckDB boundary as
  * `unix_micros` BIGINTs (Spark truncates parquet ns->µs on read; DuckDB keeps
  * ns — µs-space comparison removes the dialect drift), and oracle-checked
  * aggregates are decimal-exact so shuffle order can't perturb hashes.
  */
object SparkEntry {

  // ---- shared constants (µs since epoch, UTC) ----
  private val StartUs = 1704412800000000L // 2024-01-05T00:00:00Z
  private val EndUs = 1705708800000000L // 2024-01-20T00:00:00Z
  private val PitBaseUs = 1704672000000000L // 2024-01-08T00:00:00Z
  private val TtlSeconds = 604800L // 7 days
  private val DayUs = 86400000000L

  private def tsOf(us: Long): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))

  private def events(dir: String): GraftSource =
    GraftSource.of(table = Some(s"$dir/events.parquet"), timestampField = Some("ts"))

  // the round-trip and store queries write under the working directory's
  // target/, so a checkout anywhere writes only into its own tree
  private val scratchDir =
    java.nio.file.Paths.get(System.getProperty("user.dir"), "target", "graft-scratch").toString

  /** Derived entity frame for the PIT queries: every user with a
    * deterministic per-user entity timestamp spread over Jan 8-27.
    */
  private def entityFrame(spark: SparkSession, dir: String): DataFrame =
    events(dir).load(spark)
      .select(col("user_id")).distinct()
      .withColumn("event_timestamp",
        timestamp_micros(lit(PitBaseUs) + (col("user_id") % 20) * lit(DayUs)))

  /** Flagship: point-in-time join on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("pit_join")(spark, "/root/testdata/sf0.001")

  // =================================================================
  // §2.1 feature-store core
  // =================================================================

  private def sourceParquet(s: SparkSession, dir: String): DataFrame =
    GraftSource.parquet(s"$dir/customer.parquet").load(s)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  private def sourceCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/nation_csv"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/nation.parquet").load(s), out, SourceFormat.Csv)
    GraftSource.of(table = Some(out), format = SourceFormat.Csv,
      schemaDdl = Some("n_nationkey INT, n_name STRING, n_regionkey INT")).load(s)
  }

  private def sourceJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/region_json"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/region.parquet").load(s), out, SourceFormat.Json)
    GraftSource.of(table = Some(out), format = SourceFormat.Json,
      schemaDdl = Some("r_regionkey INT, r_name STRING")).load(s)
  }

  private def sourceQuery(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("graft_orders_v")
    // cents-as-BIGINT keeps the aggregate integer-exact: double->decimal cast
    // rounding differs between engines, integer sums never do.
    GraftSource.of(name = Some("order_totals"), query = Some(
      """SELECT o_custkey, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        |FROM graft_orders_v GROUP BY o_custkey""".stripMargin)).load(s)
  }

  private def sourceFieldMapping(s: SparkSession, dir: String): DataFrame =
    GraftSource.of(
      table = Some(s"$dir/events.parquet"), timestampField = Some("ts"),
      fieldMapping = Map("value" -> "feature_value", "event_type" -> "feature_type"))
      .load(s)
      .select("event_id", "user_id", "feature_value", "feature_type")

  private def schemaEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one schema load: columnValueTypes is derived from columnNamesAndTypes,
    // so zipping the two would load (and footer-read) the source twice
    events(dir).columnNamesAndTypes(s)
      .map { case (name, raw) => (name, raw, graft.model.ValueType.fromCatalog(raw).name) }
      .toDF("col_name", "data_type", "feast_type")
  }

  private def pullAllEvents(s: SparkSession, dir: String): DataFrame =
    FeatureStoreOps.pullAll(s, events(dir),
      joinKeyColumns = Seq("user_id"),
      featureNameColumns = Seq("value", "event_type"),
      timestampField = "ts",
      startDate = tsOf(StartUs), endDate = tsOf(EndUs))
      .toDF
      .select(col("user_id"), col("value"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))

  private def pullLatestEvents(s: SparkSession, dir: String): DataFrame =
    FeatureStoreOps.pullLatest(s, events(dir),
      joinKeyColumns = Seq("user_id"),
      featureNameColumns = Seq("value", "event_type"),
      timestampField = "ts", tieBreak = Some("event_id"),
      startDate = tsOf(StartUs), endDate = tsOf(EndUs))
      .toDF
      .select(col("user_id"), col("value"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))

  private def pullLatestTies(s: SparkSession, dir: String): DataFrame =
    FeatureStoreOps.pullLatestKeepTies(s, events(dir),
      joinKeyColumns = Seq("user_id"),
      featureNameColumns = Seq("value", "event_type"),
      timestampField = "ts",
      startDate = tsOf(StartUs), endDate = tsOf(EndUs))
      .toDF
      .select(col("user_id"), col("value"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))

  private def pitJoin(s: SparkSession, dir: String): DataFrame = {
    val fv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(fv)).toDF
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("value").as("feat_value"), col("event_type").as("feat_event_type"))
  }

  /** Serving-freshness panel for the PIT view — per hourly age bucket, how
    * many entity rows would be served a feature that old (NULL bucket =
    * no servable row inside the 7-day TTL).
    */
  private def pitStalenessQ(s: SparkSession, dir: String): DataFrame = {
    val fv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    FeatureStoreOps.stalenessAudit(s, entityFrame(s, dir), fv,
      bucketSeconds = 3600L)
  }

  private def pitJoinCreated(s: SparkSession, dir: String): DataFrame = {
    events(dir).load(s).createOrReplaceTempView("graft_events_v")
    // Late "correction" rows: same event timestamps, created 1h later, value
    // doubled — created-timestamp dedup must pick these.
    val corrected = GraftSource.of(name = Some("events_corrected"),
      timestampField = Some("ts"), createdTimestampColumn = Some("created_ts"),
      query = Some(
        """SELECT event_id, user_id, ts, value, event_type, ts AS created_ts
          |FROM graft_events_v
          |UNION ALL
          |SELECT event_id, user_id, ts, value * 2 AS value, event_type,
          |       ts + INTERVAL 1 HOUR AS created_ts
          |FROM graft_events_v""".stripMargin))
    val fv = FeatureView("events", corrected,
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(fv)).toDF
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("value").as("feat_value"), col("event_type").as("feat_event_type"))
  }

  private def pitJoinMulti(s: SparkSession, dir: String): DataFrame = {
    val evFv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    val ordSrc = GraftSource.of(
      table = Some(s"$dir/orders.parquet"), timestampField = Some("o_orderdate"),
      fieldMapping = Map("o_custkey" -> "user_id"))
    val ordFv = FeatureView("orders", ordSrc,
      entityKeys = Seq("user_id"), features = Seq("o_totalprice", "o_orderstatus"),
      ttlSeconds = 0L, tieBreak = Some("o_orderkey"))
    FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(evFv, ordFv),
      fullFeatureNames = true).toDF
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("events__value"), col("events__event_type"),
        col("orders__o_totalprice"), col("orders__o_orderstatus"))
  }

  // =================================================================
  // §2.2 LLM-pipeline operators
  // =================================================================

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** documents ∪ exact copies at doc_id+100000 — planted exact duplicates. */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000L))
  }

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithExactDups(s, dir), Seq("text"), "doc_id")
      .select("doc_id", "n_dups")

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    // plant NEAR-duplicates: one token appended => word-3-gram Jaccard ~0.9
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8).select("a_id", "b_id")
  }

  /** Incremental near-dup: the batch is every doc re-planted one token
    * longer (J ≈ 0.9 vs its original), the reference the originals — each
    * batch doc must pair with its reference twin, plus any organic
    * cross-corpus near-dups the all-pairs oracle finds.
    */
  private def dedupMinhashAgainst(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup")))
    Dedup.minHashLshAgainst(batch, d, "doc_id", "text", threshold = 0.8)
      .select("batch_id", "ref_id")
  }

  /** The same incremental question through the PERSISTED signature store:
    * build the store from the reference corpus, probe the batch against it
    * — must equal minHashLshAgainst on the same planting (shared oracle
    * ground truth). */
  private def dedupMinhashStoreQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup")))
    val store = s"$scratchDir/minhash_store"
    Dedup.buildSignatureStore(d, "doc_id", "text", store)
    Dedup.minHashLshAgainstStore(batch, "doc_id", "text", store, threshold = 0.8)
      .select("batch_id", "ref_id")
  }

  /** The dedup END-GAME a platform actually ships: near-dup pairs (LSH) →
    * connected components → keep the BEST-QUALITY doc per cluster (max
    * quality_score, ties to min doc_id — not blindly min-id, which on a
    * crawl keeps whichever copy was crawled first, boilerplate and all).
    * The canonical pick runs as one `min(struct(-quality, id))` aggregate —
    * negation is IEEE-exact, so the (quality desc, id asc) argmax is
    * engine-identical and never a nondeterministic max_by.
    */
  private def pipelineCanonicalize(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    val pairs = Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id")
    val clusters = Dedup.connectedComponents(u.select(col("doc_id").as("id")), pairs)
    val quality = TextAnalysis.qualityScore(u, "doc_id", "text")
      .select(col("doc_id").as("id"), col("quality_score"))
    clusters.join(quality, "id")
      .groupBy(col("cluster"))
      .agg(
        min(struct((-col("quality_score")).as("nq"), col("id").as("cid"))).as("_w"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("_w.cid").as("canonical_id"),
        (-col("_w.nq")).as("quality_score"), col("n_members"))
  }

  /** One fixture query list for `search_bm25` — the Spark entry and the
    * DuckDB oracle VALUES clause are generated from this single definition.
    * Mixed coverage on the documents vocabulary: multi-term, repeated-term,
    * and one term (`graftplan`) absent from the corpus (df = 0 — must
    * contribute nothing, not divide by zero).
    */
  private[graft] val bm25Queries = Seq(
    ("q1", "spark query join graftplan"),
    ("q2", "window agg batch window"),
    ("q3", "hash table scan fast slow"))

  private def searchBm25Q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.searchBm25(docs(s, dir), "doc_id", "text",
      bm25Queries.toDF("qid", "qtext"), k = 10)
  }

  /** Exact set-similarity self-join over a graded corpus: appended-token
    * copies (J ~0.9, above the 0.8 cut) AND half-truncated copies (J ~0.45,
    * below it — the negative evidence that the threshold actually cuts);
    * oracle is the full all-pairs Jaccard, so prefix-filter completeness is
    * checked against ground truth, not another approximation.
    */
  private def setSimJoin(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = graft.functions.tokens(col("text"))
    val firstHalf =
      array_join(slice(t, lit(1), floor((size(t) + lit(1)) / lit(2)).cast("int")), " ")
    val u = d
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(col("text"), lit(" graftdup"))))
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", firstHalf))
    Dedup.setSimilarityJoin(u, "doc_id", "text", threshold = 0.8)
  }

  /** Cosine set-similarity join over the SAME planted universe as
    * set_similarity_join, at 0.7 — where the two measures genuinely
    * diverge: a half-document vs its full original sits at Jaccard ≈ 0.5
    * (invisible to the 0.8 Jaccard join) but cosine ≈ √(|half|/|full|) ≈
    * 0.71, so the truncation pairs appear HERE and only here. The oracle is
    * the all-pairs cosine — prefix-filter recall measured, not assumed.
    */
  private def cosineSetJoinQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = graft.functions.tokens(col("text"))
    val firstHalf =
      array_join(slice(t, lit(1), floor((size(t) + lit(1)) / lit(2)).cast("int")), " ")
    val u = d
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(col("text"), lit(" graftdup"))))
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", firstHalf))
    Dedup.cosineSetJoin(u, "doc_id", "text", threshold = 0.7)
  }

  /** Data-quality constraint panel over orders: one row per declared
    * constraint with exact violation counts. The referential check runs
    * against a deliberately incomplete dimension (positive-balance
    * customers only) so the panel shows a real failure alongside real
    * passes; the priority uniqueness check fails by construction (few
    * distinct values), proving the duplicate-group row accounting.
    */
  private def qualityPanelQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality
    import graft.ops.Quality._
    val orders = s.read.parquet(s"$dir/orders.parquet")
    val goodCustomers = s.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_acctbal") > 0)
    Quality.checkConstraints(orders, Seq(
      NotNullCheck("o_custkey"),
      RangeCheck("o_totalprice", 0.0, 400000.0),
      RegexCheck("o_orderstatus", "^[A-Z]$"),
      UniqueCheck("o_orderkey"),
      UniqueCheck("o_orderpriority"),
      RefCheck("o_custkey", goodCustomers, "c_custkey")))
  }

  /** DQ metric history + anomaly flags over the per-day event snapshots —
    * Deequ's second half: the constraint panel grouped by day, each
    * series' violation RATE banded against its trailing week. The plant is
    * a level shift, not a violation-vs-pass toggle: from Jan 24 every
    * 23rd event's value goes missing (~43 000 ppm not-null rate where the
    * prior band is 0 ± margin), so the SHIFT day flags while the already-
    * shifted days that follow re-enter the trailing band — the "flag the
    * incident once, not forever" contract. The range check's natural
    * day-to-day rate rides inside the margin; uniqueness and the regex are
    * clean series that must never flag. Every count, ppm division, and
    * band endpoint replays exactly in the oracle.
    */
  private def dqHistoryQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality
    import graft.ops.Quality._
    val base = eventsFixedPoint(s, dir)
      .select(to_date(col("ts")).cast("string").as("dt"),
        col("event_id"), col("event_type"), col("value").as("v_cents"))
      .withColumn("v_planted",
        when(col("dt") >= "2024-01-24" && pmod(col("event_id"), lit(23)) === 0,
          lit(null).cast("long"))
          .otherwise(col("v_cents")))
    val metrics = Quality.constraintMetricsByGroup(base, "dt", Seq(
      NotNullCheck("v_planted"),
      RangeCheck("v_cents", 100.0, 4500000.0),
      UniqueCheck("event_id"),
      RegexCheck("event_type", "^[a-z]+$")))
    Quality.anomalyFlags(metrics, "dt", window = 7, marginPpm = 20000L,
      minPrior = 3)
  }

  /** Containment join over documents plus planted first-half excerpts —
    * the asymmetric measure: excerpt→original containment is exactly 1.0
    * (every shingle of the half is a shingle of the full) while Jaccard and
    * cosine both shrink with the host's length. Directed all-pairs ground
    * truth in the oracle: prefix-filter + full-posting-probe recall is
    * measured, not assumed.
    */
  private def containmentJoinQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = graft.functions.tokens(col("text"))
    val firstHalf =
      array_join(slice(t, lit(1), floor((size(t) + lit(1)) / lit(2)).cast("int")), " ")
    val u = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", firstHalf))
    Dedup.containmentJoin(u, "doc_id", "text", threshold = 0.9)
  }

  /** Canonical duplicate-cluster assignment: LSH pairs -> connected
    * components -> every doc labeled with its cluster's min doc_id.
    */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    val pairs = Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id")
    Dedup.connectedComponents(u.select(col("doc_id").as("id")), pairs)
  }

  /** Same ground-truth corpus and oracle as dedup_clusters, labels computed
    * by the large-star/small-star contraction instead of min-label. */
  private def dedupClustersLs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    val pairs = Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id")
    Dedup.connectedComponentsLS(u.select(col("doc_id").as("id")), pairs)
  }

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDup(docsWithExactDups(s, dir), "doc_id", "text", maxHamming = 3)
      .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))

  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    // positive scaling keeps both the cosine (=1) and every hyperplane sign
    val e = embs(s, dir)
    val u = e.unionByName(e
      .withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0001f))))
    Dedup.embeddingNearDup(u, "vec_id", "embedding", dim = 64).select("a_id", "b_id")
  }

  /** SemDeDup over the embedding corpus with planted scaled twins (float
    * multiply, bit-identical in DuckDB — cosine ≈ 1 vs a measured organic
    * maximum of 0.51 at the gate SF, so the 0.98 cut is margin-safe) and a
    * deterministic integer quality `vec_id*7 % 101`: twin and original get
    * DIFFERENT qualities, so the survivor is the best-quality group member —
    * often the planted twin, never blindly the min id.
    */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val u = e.unionByName(e
      .withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0001f))))
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") * 7 % 101).as("quality"))
    Dedup.semanticDedup(u, "vec_id", "embedding", "quality",
      numClusters = 16, threshold = 0.98)
  }

  /** Incremental SemDeDup: reference = the whole embeddings corpus; batch =
    * scaled twins of every 3rd vector (semantic dups — must pair with their
    * originals) + reversed embeddings of every (3k+1)th (novel — must pair
    * with nothing). Cosine stays out of the projection (float-op-order
    * across engines — the dedup_embedding discipline); the pair SET is the
    * checked artifact. */
  private def dedupSemanticAgainstQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val batch = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
      .unionByName(e.filter(col("vec_id") % 3 === 1)
        .select((col("vec_id") + 200000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    Dedup.semanticDedupAgainst(batch, e.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", numClusters = 16)
      .select("batch_id", "ref_id")
  }

  private def knnQueries(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def knnCorpus(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def knnBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(knnQueries(s, dir), knnCorpus(s, dir), k = 10)
      .select("qid", "neighbor_id", "rank")

  private def knnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(knnQueries(s, dir), knnCorpus(s, dir), k = 10, dim = 64)
      .select("qid", "neighbor_id", "rank")

  private def knnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(knnQueries(s, dir), knnCorpus(s, dir), k = 10)
      .select("qid", "neighbor_id", "rank")

  /** RRF ensemble of the three ANN rankings (brute exact + LSH + IVF) —
    * hybrid-search fusion with fixed-point reciprocal scores.
    */
  private def searchRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val q = knnQueries(s, dir)
    val c = knnCorpus(s, dir)
    Similarity.rrfFuse(Seq(
      Similarity.bruteForceTopK(q, c, 10),
      Similarity.lshTopK(q, c, 10, dim = 64),
      Similarity.ivfTopK(q, c, 10)))
  }

  /** The LSH ranking judged against the brute-force ground truth — the
    * recall-vs-speed evidence for the ANN family, per query.
    */
  private def searchEval(s: SparkSession, dir: String): DataFrame = {
    val q = knnQueries(s, dir)
    val c = knnCorpus(s, dir)
    Similarity.rankingMetrics(
      Similarity.lshTopK(q, c, 10, dim = 64),
      Similarity.bruteForceTopK(q, c, 10), k = 10)
  }

  // PQ search: 64-dim vectors → 4 subspaces × 8 cells, deterministic per-
  // subspace Lloyd; the oracle replays train+encode+ADC rank-for-rank
  private def knnPq(s: SparkSession, dir: String): DataFrame = {
    val corpus = knnCorpus(s, dir)
    val books = Similarity.pqTrainCodebooks(corpus, dim = 64, m = 4, cellsPerSub = 8)
    Similarity.pqTopK(knnQueries(s, dir), Similarity.pqEncode(corpus, books), books, k = 10)
      .select("qid", "neighbor_id", "rank")
  }

  private def kmeansClusters(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(knnCorpus(s, dir), numClusters = 16)
      .select(col("id").as("vec_id"), col("cluster"))

  /** The 100 TB k-means mode: centroids fit on a deterministic 40% md5
    * sample, assignment still covers every vector (oracle replicates the
    * sampled training bit-for-bit).
    */
  private def kmeansSampleTrain(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(knnCorpus(s, dir), numClusters = 8, trainPercent = 40)
      .select(col("id").as("vec_id"), col("cluster"))

  private def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")

  private def textLangid(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(docs(s, dir), "doc_id", "text")

  /** The German-stopword tail planted on every 11th doc for the
    * language-consistency row — 60 tokens, so at chunkTokens=50 every
    * planted doc gains at least one chunk whose MAJORITY is German.
    */
  private def langMixTail: String =
    (1 to 3).flatMap(_ => TextAnalysis.stopwords("de")).mkString(" ")

  /** Mixed-language detection: fixed 50-token chunks language-ID
    * independently, per-doc consistency report — the planted German tails
    * must flag `mixed` wherever the base doc identifies as a different
    * language, and the whole chain (chunking, per-chunk stopword votes,
    * majority, ppm) replays in DuckDB.
    */
  private def langMixQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("text",
      when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" " + langMixTail)))
        .otherwise(col("text")))
    TextAnalysis.languageConsistency(d, "doc_id", "text", chunkTokens = 50)
  }

  // trained char-bigram langid: labels from the corpus's own lang column,
  // train on 4/5 of the docs (doc_id % 5 != 0), score ALL docs; minCount=2
  // exercises the prune-after-denominators contract
  private def textLangidModel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.languageIdModel(
      d.filter(col("doc_id") % 5 =!= 0), "lang", "text",
      d, "doc_id", "text", minCount = 2L)
  }

  private def docFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprintDocs(docs(s, dir), "doc_id", "text")

  private def ngramStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramStats(docs(s, dir), "doc_id", "text", n = 3, topK = 50)

  private def packSequences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(docs(s, dir), "doc_id", "text",
      tokenBudget = 512, partitionKey = "source")

  /** BPE trainer on the corpus: the first 12 merge ranks, which the oracle
    * replays exactly (deterministic winner + tie-break — see
    * [[TextAnalysis.trainBpeMerges]]).
    */
  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainBpeMerges(docs(s, dir), "text", numMerges = 12)

  /** End-to-end subword tokenization: train 12 merges on the corpus, then
    * BPE-encode the same corpus with them (oracle replays both halves; the
    * comma-free space join is lossless — subwords never contain whitespace).
    */
  private def bpeEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val merges = TextAnalysis.trainBpeMerges(docs(s, dir), "text", numMerges = 12)
    TextAnalysis.bpeEncode(docs(s, dir), "doc_id", "text", merges)
      .select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords_str"))
  }

  /** WordPiece trainer on the corpus: the first 10 likelihood-greedy merge
    * ranks — the `count(l,r)/(count(l)·count(r))` criterion in the
    * quantized integral lane, which the oracle replays rank by rank
    * including every score_q division and the (score_q, n, l, r) argmax.
    */
  private def wordPieceMergesQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainWordPieceMerges(docs(s, dir), "text", numMerges = 10)

  /** End-to-end WordPiece tokenization: train 10 merges, build the
    * deployment vocabulary (alphabet ∪ merged pieces), greedy
    * longest-match-encode the same corpus — the oracle replays the train,
    * the vocabulary union, and the per-position longest-match walk (a
    * layered SQL dp, one layer per consumed span).
    */
  private def wordPieceEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val merges = TextAnalysis.trainWordPieceMerges(docs(s, dir), "text",
      numMerges = 10)
    val vocab = TextAnalysis.wordPieceAlphabet(docs(s, dir), "text")
      .unionByName(merges.select(col("merged").as("piece")))
    TextAnalysis.wordPieceEncode(docs(s, dir), "doc_id", "text", vocab)
  }

  /** Deterministic multilingualizer for the byte-level BPE rows: the fixture
    * corpus is ASCII, so byte mode's whole point (multi-byte UTF-8 in the
    * reversible GPT-2 alphabet) would go unexercised on the raw table. This
    * is a pure function of (doc_id, text) the DuckDB oracle replays verbatim:
    * every third doc gains 2-byte codepoints (a→ä, e→é via `translate`),
    * every seventh a tail with 3-byte CJK and a 4-byte emoji — all four
    * UTF-8 width branches of the alphabet participate in training AND
    * encoding, not just the compiled code path.
    */
  private def multilingualDocs(s: SparkSession, dir: String): DataFrame = {
    val base = when(col("doc_id") % 3 === 0, translate(col("text"), "ae", "äé"))
      .otherwise(col("text"))
    val mtext = when(col("doc_id") % 7 === 0, concat(base, lit(" 日本語 😀")))
      .otherwise(base)
    docs(s, dir).select(col("doc_id"), mtext.as("text"))
  }

  /** Byte-level BPE trainer (GPT-2 `bytes_to_unicode` alphabet): the first
    * 12 merge ranks over the multilingualized corpus — every token trains
    * (no ASCII-printable filter), inter-token spaces ride as leading Ġ
    * byte-chars, and the oracle replays the byte→alphabet mapping as SQL
    * CASE arithmetic over UTF-8 codepoints plus the same wrapped-symbol
    * merge replay as `bpe_merges`.
    */
  private def bpeMergesBytes(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainBpeMerges(multilingualDocs(s, dir), "text",
      numMerges = 12, byteLevel = true)

  /** End-to-end byte-level subword tokenization: train 12 byte-mode merges,
    * then byte-encode the same corpus. The space join is lossless in byte
    * mode too — the alphabet excludes ASCII space by construction (it maps
    * to Ġ), so no subword can contain the separator.
    */
  private def bpeEncodeBytesQ(s: SparkSession, dir: String): DataFrame = {
    val merges = TextAnalysis.trainBpeMerges(multilingualDocs(s, dir), "text",
      numMerges = 12, byteLevel = true)
    TextAnalysis.bpeEncode(multilingualDocs(s, dir), "doc_id", "text", merges,
      byteLevel = true)
      .select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords_str"))
  }

  /** Bigram-LM quality scores, self-trained on the corpus with the pair
    * table pruned at minCount=2 (exercises the 100 TB broadcast knob); all
    * fixed-point integer arithmetic, oracle replays it exactly.
    */
  private def lmScoreQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmScore(docs(s, dir), docs(s, dir), "doc_id", "text", minCount = 2)
      .withColumnRenamed("id", "doc_id")

  /** CCNet-deployment-shaped quality-stratified mixing: the corpus is
    * bucketed head/middle/tail on the bigram-LM score and re-weighted per
    * bucket (head 2.5 epochs, middle 1, tail 20%) through
    * [[ops.Sampling.mixCorpora]]. The cutoffs are CONSTANTS in the LM's
    * integer fixed-point lane (`score_sum >= T · n_bigrams` — no float
    * compare anywhere), which is how CCNet actually deploys: thresholds
    * learned once offline, applied as literals at scan speed — never a
    * global percentile pass over the full corpus. Docs with no bigram
    * evidence (lm_q null) fall to tail, not to a fabricated score.
    */
  private def pipelineQualityMix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bucketed = TextAnalysis.lmScore(d, d, "doc_id", "text", minCount = 2)
      .select(col("id").as("doc_id"),
        when(col("n_bigrams") > 0 &&
            col("score_sum") >= lit(36600L) * col("n_bigrams"), "head")
          .when(col("n_bigrams") > 0 &&
            col("score_sum") >= lit(35700L) * col("n_bigrams"), "middle")
          .otherwise("tail").as("bucket"))
      // the three mixCorpora branches below each filter this table — the
      // lazy checkpoint materializes the scored corpus once, not thrice
      .localCheckpoint(false)
    def part(b: String) = bucketed.filter(col("bucket") === b).select("doc_id")
    ops.Sampling.mixCorpora(Seq(
        ("head", part("head"), 250),
        ("middle", part("middle"), 100),
        ("tail", part("tail"), 20)), "doc_id")
      .select(col("doc_id"), col("mix_source"), col("copy_id"))
  }

  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.describe(Multimodal.synthesize(docs(s, dir), "doc_id", "text"))

  /** REAL ImageIO roundtrip: generate a deterministic PNG per doc, decode
    * it back, report dims + per-channel pixel sums. The oracle recomputes
    * the sums from the closed-form pixel formula — no image stack needed.
    */
  private def imageStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageStats(s,
      Multimodal.synthesizeImages(s, docs(s, dir).select("doc_id"), "doc_id"))

  /** Perceptual near-dup over REAL PNG payloads: the base corpus plus
    * re-encoded twins (identity nearest-neighbor resize — lossless, so
    * dHash-identical, hamming 0) plus mildly-resized twins (w+4, h+2 — the
    * composed integer nearest-neighbor mapping), with every 9th BASE
    * payload truncated below PNG header size (corrupt ⇒ decode drops it ⇒
    * it appears in no pair, even where its twin survives). maxBucket is
    * set inert so candidate generation is the pure 4-chunk pigeonhole and
    * the result is EXACTLY all pairs within hamming 3 — which the oracle
    * replays arithmetically from the closed-form pixels, no image stack.
    */
  private def imageNearDupMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // TWO consumers (the corrupted branch and the twin derivation) hang off
    // the synthesized corpus: without the lazy checkpoint the union executes
    // the per-row PNG synthesis twice (the capstone multi-consumer lesson)
    val base = Multimodal.synthesizeImages(s, docs(s, dir).select("doc_id"), "doc_id")
      .select(col("item_id"), col("payload"),
        col("meta.width").as("w"), col("meta.height").as("h"))
      .localCheckpoint(false)
    // twins derive from the CLEAN payloads (a real pipeline's copies were
    // made before the original rotted); %7 wins when both rules match
    val twins = base
      .filter(col("item_id") % 7 === 0 || col("item_id") % 11 === 0)
      .as[(Long, Array[Byte], Int, Int)]
      .map { case (id, p, w, h) =>
        if (id % 7 == 0) (id + 10000000L, Multimodal.ImageIoCodec.resizeNearest(p, w, h).get)
        else (id + 20000000L, Multimodal.ImageIoCodec.resizeNearest(p, w + 4, h + 2).get)
      }
      .toDF("item_id", "payload")
    val corrupted = base.select(col("item_id"),
      when(col("item_id") % 9 === 0, expr("substring(payload, 1, 20)"))
        .otherwise(col("payload")).as("payload"))
    corrupted.unionByName(twins)
  }

  private def imageNearDupQ(s: SparkSession, dir: String): DataFrame =
    ops.Dedup.imageNearDup(s, imageNearDupMedia(s, dir),
      maxHamming = 3, maxBucket = 1000000)

  /** The image-dedup chain END-TO-END (what a multimodal curation run
    * actually executes, the media twin of `pipeline_canonicalize`): decode
    * + hash ONCE (checkpointed — pairs and the id universe share the scan),
    * hamming near-dup pairs, connected components to transitive clusters,
    * min-id canonical labels with cluster sizes. Corrupt payloads fell out
    * at decode, so they appear in no cluster at all.
    */
  private def pipelineImageDedupQ(s: SparkSession, dir: String): DataFrame = {
    val hashes = Multimodal.dHash(s, imageNearDupMedia(s, dir))
      .select(col("item_id").as("id"), col("dhash").as("sig"))
      .localCheckpoint(false)
    val pairs = ops.Dedup.hammingNearDupPairs(hashes, maxHamming = 3, maxBucket = 1000000)
    val cc = ops.Dedup.connectedComponents(hashes.select(col("id")), pairs)
    val sz = cc.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    cc.join(sz, "cluster")
      .select(col("id"), col("cluster"), col("n_members"),
        (col("id") === col("cluster")).as("is_canonical"))
  }

  /** Video near-dup over REAL containers: base corpus + TRIMMED twins
    * (every 6th video cut to its first frame through a real decode →
    * container re-encode — the leading frame rides bit-identical, so the
    * representative-frame dHash pairs them at hamming 0) with every 9th
    * BASE payload truncated below the container header (corrupt ⇒
    * dropped). The oracle replays frame-0 dHashes arithmetically (the
    * `+19f/+23f/+29f` frame terms vanish at f = 0) and takes the all-pairs
    * hamming ≤ 3 join at inert cap.
    */
  private def videoNearDupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corrupted + twins both read the synthesized corpus — checkpoint so
    // the per-row container synthesis runs once, not twice
    val base = Multimodal.synthesizeVideos(s, docs(s, dir).select("doc_id"), "doc_id")
      .select(col("item_id"), col("payload"))
      .localCheckpoint(false)
    val twins = base.filter(col("item_id") % 6 === 0)
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        val frames = Multimodal.FrameContainer.decode(p).get
        (id + 10000000L, Multimodal.FrameContainer.encode(frames.take(1)))
      }
      .toDF("item_id", "payload")
    val corrupted = base.select(col("item_id"),
      when(col("item_id") % 9 === 0, expr("substring(payload, 1, 6)"))
        .otherwise(col("payload")).as("payload"))
    ops.Dedup.videoNearDup(s, corrupted.unionByName(twins),
      maxHamming = 3, maxBucket = 1000000)
  }

  /** Audio near-dup over REAL WAVs: base corpus + re-encoded twins
    * (decode → encode, sample-identical, hamming 0) + HALF-VOLUME twins
    * (every sample truncation-halved — the envelope comparisons mostly
    * cancel the gain, landing within a few bits: the invariance the
    * fingerprint exists for), with every 10th BASE payload truncated below
    * the RIFF header (corrupt ⇒ dropped). The oracle replays the
    * 65-window energy envelope and both twin transforms arithmetically.
    */
  private def audioNearDupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corrupted + twins both read the synthesized corpus — checkpoint so
    // the per-row WAV synthesis runs once, not twice
    val base = Multimodal.synthesizeAudio(s, docs(s, dir).select("doc_id"), "doc_id")
      .select(col("item_id"), col("payload"))
      .localCheckpoint(false)
    val twins = base
      .filter(col("item_id") % 7 === 0 || col("item_id") % 11 === 0)
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        val d = Multimodal.WavCodec.decode(p).get
        if (id % 7 == 0)
          (id + 10000000L, Multimodal.WavCodec.encodeWav(d.sampleRate, d.samples))
        else
          (id + 20000000L, Multimodal.WavCodec.encodeWav(d.sampleRate,
            d.samples.map(v => (v / 2).toShort))) // truncation toward zero
      }
      .toDF("item_id", "payload")
    val corrupted = base.select(col("item_id"),
      when(col("item_id") % 10 === 0, expr("substring(payload, 1, 20)"))
        .otherwise(col("payload")).as("payload"))
    ops.Dedup.audioNearDup(s, corrupted.unionByName(twins),
      maxHamming = 3, maxBucket = 1000000)
  }

  /** Real WAV encode→decode roundtrip over the closed-form synthetic
    * signals, with every 10th payload TRUNCATED to 20 bytes (shorter than a
    * RIFF header — undecodable by construction): corrupt rows must drop,
    * decoded rows must match the generator arithmetic the oracle replays.
    */
  private def audioStats(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal
      .synthesizeAudio(s, docs(s, dir).select("doc_id"), "doc_id")
      .withColumn("payload",
        when(col("item_id") % 10 === 0, expr("substring(payload, 1, 20)"))
          .otherwise(col("payload")))
    Multimodal.audioStats(s, media)
  }

  /** Unigram-LM vocabulary train (Kudo 2018's EM-prune loop in the exact-
    * integer lane): substring seed → 2 rounds of {Viterbi E-step, usage
    * M-step, prune-to-48 with the alphabet kept}. The oracle replays the
    * ENTIRE train — seed counts, both layered Viterbi dps with the
    * (fewest-pieces, max-weight-sum, min-path) pick, both prunes — in pure
    * integer SQL; matching it pins every tie-break in the trainer.
    */
  private def unigramVocabQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainUnigramVocab(docs(s, dir), "text",
      vocabSize = 48, seedSize = 192, emRounds = 2)

  /** Train-then-encode round trip: the corpus encoded with its own trained
    * unigram vocabulary. Every in-domain token segments by the trainer's
    * exact Viterbi objective (so the oracle replays this as one more dp
    * round against uvocab3); out-of-domain tokens pass through opaque.
    */
  private def unigramEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = TextAnalysis.trainUnigramVocab(d, "text",
      vocabSize = 48, seedSize = 192, emRounds = 2)
    TextAnalysis.unigramEncode(d, "doc_id", "text", vocab)
      .select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords_str"))
  }

  /** Online-store materialization end-to-end: the event log ingests as
    * three OUT-OF-ORDER batches (split by event_id residue — each carries
    * an interleaved slice of time), one batch REPLAYS (the at-least-once
    * reality), and the store is rebuilt from scratch each run (a store is
    * state; the query's contract is the full ingest history). The full
    * read-back must equal pullLatest over the entire log — out-of-order
    * convergence and replay idempotence are exactly what the
    * latest-merge's associative/idempotent algebra promises.
    */
  private def onlineStoreLatestQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"$scratchDir/online_store_latest"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val ev = eventsFixedPoint(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("v"), col("event_type"))
    def ingest(k: Int): Unit = ops.LatestStore.upsertBatch(
      ev.filter(col("event_id") % 3 === k), path, "user_id", "ts",
      Seq("v", "event_type"), numBuckets = 8, tieBreak = Some("event_id"))
    Seq(2, 0, 1, 0).foreach(ingest) // out of order, batch 0 replayed
    ops.LatestStore.readLatest(s, path, "user_id", numBuckets = 8)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("v"), col("event_type"))
  }

  /** Interval-overlap join end-to-end: each user's SCD2 event-type regimes
    * (open tails closed at the Feb-1 horizon) against 3-day windows opened
    * by that user's purchases — "which regimes were active while the
    * purchase window ran". The oracle is the plain overlap join; the grid
    * cells and the first-cell emit rule must be result-invisible.
    */
  private def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val regimes = ops.Temporal.scd2(ev, "user_id", "ts", Seq("event_type"))
      .select(col("user_id"), col("event_type").as("regime"),
        col("valid_from"),
        coalesce(col("valid_to"), timestamp_micros(lit(1706745600000000L)))
          .as("valid_to"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + lit(259200000000L)).as("w_end"))
    ops.Temporal.intervalOverlapJoin(regimes, windows,
        "valid_from", "valid_to", "w_start", "w_end",
        bucketSeconds = 3L * 86400L, keys = Seq("user_id"))
      .select(col("user_id"), col("purchase_id"), col("regime"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        unix_micros(col("w_start")).as("w_start_us"),
        unix_micros(col("w_end")).as("w_end_us"))
  }

  /** Interval flatten end-to-end: 36-hour engagement windows opened by each
    * of a user's click/purchase events, collapsed into the user's maximal
    * disjoint engagement intervals ("when was this user engaged AT ALL") —
    * the gaps-and-islands canonicalizer over real overlapping windows.
    * DuckDB replays the identical running-max / island-sum chain.
    */
  private def intervalFlattenQ(s: SparkSession, dir: String): DataFrame = {
    val iv = events(dir).load(s)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + lit(129600000000L)).as("w_end"))
    ops.Temporal.flattenIntervals(iv, "w_start", "w_end", keys = Seq("user_id"))
      .select(col("user_id"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"), col("n_merged"))
  }

  /** The composed feature-SERVING chain — what a training-set build or an
    * online-store backfill actually runs, pinned end-to-end the way the
    * LLM-side pipelines (rows 104/108/112/127) pin theirs: entity frame →
    * point-in-time feature pick over the events view (TTL + tie-break) →
    * batch recency feature (fixed-cutoff half-life-decayed sum, attached
    * per user) → SCD2 dimension regime attached AS-OF each entity row's
    * own timestamp (backward as-of pick ≡ interval containment, since
    * scd2's intervals tile each user's timeline). Every stage is the
    * already-oracled operator, so this query's contract is purely the
    * COMPOSITION: join keys, null propagation for users with no eligible
    * feature row, and the as-of boundary at interval edges.
    */
  private def pipelineFeatureServe(s: SparkSession, dir: String): DataFrame = {
    val fv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    val pit = FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(fv)).toDF
      .select(col("user_id"), col("event_timestamp"),
        col("value").as("feat_value"), col("event_type").as("feat_event_type"))
    val recency = ops.Temporal.decayedSum(eventsFixedPoint(s, dir),
      keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
      halfLifeSeconds = 21600L,
      asOf = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-31T00:00:00Z")))
    val dim = ops.Temporal.scd2(events(dir).load(s), "user_id", "ts", Seq("event_type"))
    ops.Temporal.asofJoin(pit.join(recency, Seq("user_id"), "left"), dim,
        keys = Seq("user_id"), leftTsCol = "event_timestamp",
        rightTsCol = "valid_from",
        leftIdCols = Seq("user_id", "event_timestamp"),
        rightValueCols = Seq("event_type"))
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("feat_value"), col("feat_event_type"),
        col("n_events"), col("decayed_sum"),
        col("asof_event_type").as("regime_event_type"),
        unix_micros(col("asof_valid_from")).as("regime_since_us"))
  }

  /** Profile-driven skew remediation end-to-end: collapse every third user
    * onto user 0 (a planted power-law head owning ~a third of the fact
    * table — keySkewProfile flags it at ~300000×-mean ppm), then join the
    * fact side to its per-user dimension through
    * [[ops.Skew.profiledSaltedJoin]]: ONLY the hot key is salted (its
    * measured share earns the factor), the cold majority joins plainly.
    * The oracle is the PLAIN join — salting must be invisible in the
    * result, which is the entire correctness contract of the remediation.
    */
  /** Sketch-planned join end-to-end: CMS sketches of both sides' uid keys
    * feed the broadcast/plain/salted decision (the cmsJoinSize planning
    * primitive composed into the remediation); the per-(uid, type) dim
    * fans every event out ~5x, so the inner-product estimate exceeds the
    * 2x salt threshold and the planner takes the profiledSaltedJoin path —
    * whose rows the plain DuckDB join replays identically.
    */
  private def plannedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val raw = events(dir).load(s).select(
      col("event_id"),
      when(col("user_id") % 3 === 0, 0L).otherwise(col("user_id")).as("uid"),
      col("event_type"),
      round(col("value") * 10000).cast("long").as("v"))
    val ev = raw.select("event_id", "uid", "v")
    val dim = raw.groupBy("uid", "event_type")
      .agg(count(lit(1)).as("n_ut"), sum("v").as("sum_ut"))
    val skL = ops.Sketch.countMinSketch(ev, "uid", width = 1024, depth = 3)
    val skR = ops.Sketch.countMinSketch(dim, "uid", width = 1024, depth = 3)
    ops.Skew.sketchPlannedJoin(ev, dim, "uid", skL, skR, depth = 3,
      broadcastMaxRows = 100L, saltAboveXPpm = 2000000L)
      .select(col("event_id"), col("uid"), col("v"), col("event_type"),
        col("n_ut"), col("sum_ut"))
  }

  private def skewSaltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s).select(
      col("event_id"),
      when(col("user_id") % 3 === 0, 0L).otherwise(col("user_id")).as("uid"),
      round(col("value") * 10000).cast("long").as("v"))
    val dim = ev.groupBy("uid")
      .agg(count(lit(1)).as("n_u"), sum("v").as("sum_u"))
    ops.Skew.profiledSaltedJoin(ev, dim, "uid")
      .select(col("event_id"), col("uid"), col("v"), col("n_u"), col("sum_u"))
  }

  /** Resample + forward fill end-to-end: each user's event stream downsampled
    * to 6-hour buckets (last observation per bucket, event_id tie-break),
    * empty buckets forward-filled up to 8 buckets (48 h staleness TTL) —
    * the model-ready panel builder. DuckDB replays the arg-max, the lead
    * gap, and the capped fill explode row-exactly.
    */
  private def resampleFfillQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.resampleForwardFill(
      eventsFixedPoint(s, dir).withColumnRenamed("value", "v_cents"),
      tsCol = "ts", valueCols = Seq("v_cents", "event_type"),
      bucketSeconds = 21600L, maxFillBuckets = 8L,
      keys = Seq("user_id"), tieBreak = Some("event_id"))
      .select(col("user_id"), unix_micros(col("bucket_start")).as("bucket_start_us"),
        col("v_cents"), col("event_type"), col("n_obs"), col("is_observed"))

  /** Entity resolution end-to-end on structured records: the customer table
    * with deterministically planted duplicate records — a case-formatting
    * variant (normalization-identical, segment/balance missing, SMALLER
    * record id so survivorship must fall through its NULL fields) for md5
    * buckets < 10, and a one-char-deletion typo variant for buckets [5, 20)
    * (buckets [5, 10) get BOTH → 3-member clusters through the original as
    * hub). Names are 12-hex-char md5 cores, so cross-record trigram overlap
    * is noise (~2%) and the planted pairs (≥ 583333 ppm) separate cleanly
    * at the 550000 threshold. The oracle grades against ALL-PAIRS ground
    * truth — blocking recall is measured, not assumed.
    */
  /** Planted ER universe over the customer table (shared by the batch and
    * incremental ER queries): 12-hex md5-core names, a case-formatting
    * variant (buckets < 10, smaller id, NULL segment/balance), a
    * one-char-deletion typo variant (buckets [5, 20)), and — for the
    * incremental form's novel lane — a reversed-name variant (buckets
    * [20, 28)) whose trigram overlap with everything is noise.
    */
  private def erParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cust = GraftSource.parquet(s"$dir/customer.parquet").load(s)
    def keyMd5 = md5(col("c_custkey").cast("string").cast("binary"))
    val core = substring(keyMd5, 1, 12)
    val bucket = conv(substring(keyMd5, 1, 6), 16, 10).cast("long") % 100
    val base = cust.select(
      col("c_custkey").cast("long").as("rec_id"), core.as("name"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val withB = cust.withColumn("_b", bucket)
    val kindA = withB.filter(col("_b") < 10).select(
      (-col("c_custkey").cast("long") - 1L).as("rec_id"),
      upper(core).as("name"), col("c_nationkey").cast("long").as("nation"),
      lit(null).cast("string").as("segment"),
      lit(null).cast("long").as("bal_cents"))
    val kindB = withB.filter(col("_b") >= 5 && col("_b") < 20).select(
      (col("c_custkey").cast("long") + 3000000L).as("rec_id"),
      concat(substring(core, 1, 4), substring(core, 6, 7)).as("name"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val kindC = withB.filter(col("_b") >= 20 && col("_b") < 28).select(
      (col("c_custkey").cast("long") + 4000000L).as("rec_id"),
      reverse(core).as("name"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    (base, kindA, kindB, kindC)
  }

  private def erBlocks = Seq(
    "name4" -> substring(ops.EntityResolution.normalized(col("name")), 1, 4),
    // NULL segment null-propagates through concat: no attribute block
    "attrs" -> concat(col("nation").cast("string"), lit("|"), col("segment")))

  private def entityResolutionQ(s: SparkSession, dir: String): DataFrame = {
    val (base, kindA, kindB, _) = erParts(s, dir)
    // FIVE consumers hang off the planted universe (blocking keys, the
    // trigram table, the CC node set, goldenRecords' wide side + id join) —
    // without the lazy checkpoint each re-runs the 3-branch md5 derivation
    val recs = base.unionByName(kindA).unionByName(kindB).localCheckpoint(false)
    val labels = ops.EntityResolution.resolveEntities(
      recs, "rec_id", "name", erBlocks, thresholdPpm = 550000L, maxBlock = 500)
    ops.EntityResolution.goldenRecords(recs, labels, "rec_id",
      Seq("name", "segment", "bal_cents"))
      .select(col("entity_id"), col("n_members"), col("name"), col("segment"),
        col("bal_cents"))
  }

  /** Incremental entity resolution end-to-end: the accepted reference is the
    * original customer universe (each its own entity), the nightly batch is
    * every planted variant — formatting and typo twins must ASSIGN to their
    * original's entity, and the reversed-name records (which share attribute
    * blocks but no name evidence) must come back NULL = novel. Graded
    * against cross-side ALL-PAIRS ground truth.
    */
  private def entityResolutionAgainstQ(s: SparkSession, dir: String): DataFrame = {
    val (base, kindA, kindB, kindC) = erParts(s, dir)
    // reference feeds the blocking keys, the grams table AND the entity
    // attach; batch feeds blocking keys, grams and the id universe —
    // checkpoint both so the md5 plant derivation runs once per side
    val reference = base.withColumn("entity", col("rec_id")).localCheckpoint(false)
    val batch = kindA.unionByName(kindB).unionByName(kindC).localCheckpoint(false)
    ops.EntityResolution.resolveAgainst(
      batch, reference, "rec_id", "name", "entity", erBlocks,
      thresholdPpm = 550000L, maxBlock = 500)
  }

  /** Incremental ER under the Fellegi–Sunter rule: same reference/batch
    * universe as `entity_resolution_against`, but assignment by
    * multi-attribute evidence — the reversed-name plants (zero name
    * evidence, trigram form returns them NOVEL) now ASSIGN to their
    * original's entity through nation+segment+balance agreement overcoming
    * the name disagreement (−20+5+2+35 = 22 ≥ 20), while random same-block
    * pairs stay below threshold. Graded against cross-side ALL-PAIRS
    * ground truth (blocking recall measured, not assumed).
    */
  private def entityResolutionAgainstFsQ(s: SparkSession, dir: String): DataFrame = {
    import ops.EntityResolution.FieldWeight
    val (base, kindA, kindB, kindC) = erParts(s, dir)
    // same multi-consumer shape as entity_resolution_against — one
    // materialization per side instead of one per consumer
    val reference = base.withColumn("entity", col("rec_id")).localCheckpoint(false)
    val batch = kindA.unionByName(kindB).unionByName(kindC).localCheckpoint(false)
    ops.EntityResolution.resolveAgainstWeighted(
      batch, reference, "rec_id", "name", "entity", erBlocks,
      fields = Seq(FieldWeight("nation", 5L, -30L),
        FieldWeight("segment", 2L, -20L),
        FieldWeight("bal_cents", 35L, -5L)),
      nameAgreePpm = 550000L, nameAgree = 40L, nameDisagree = -20L,
      threshold = 20L, maxBlock = 500)
  }

  /** Time-weighted average end-to-end: each user's fixed-point value as a
    * stepwise SCD2 regime (same-instant max collapse, no-op drop), averaged
    * by HOLDING TIME over the Jan-8..Jan-28 window — the step-function mean
    * an event-count AVG gets wrong. DuckDB replays the regime build, the
    * second-truncated overlap clip, and both integral divisions.
    */
  private def timeWeightedAvgQ(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsFixedPoint(s, dir).withColumnRenamed("value", "v_cents")
    val regimes = ops.Temporal.scd2(ev, "user_id", "ts", Seq("v_cents"))
    ops.Temporal.timeWeightedAverage(regimes, "user_id", "v_cents",
      "valid_from", "valid_to",
      windowStartUs = 1704672000000000L, windowEndUs = 1706400000000000L)
  }

  /** Sorted-neighborhood candidates over the planted ER universe: records
    * sorted by normalized name within first-char partitions, each paired
    * with its next 3 neighbors, trigram-verified — the complementary
    * blocking pass (formatting twins sort identically, char-5 typo twins
    * share the 4-char sort prefix and land adjacent). DuckDB replays the
    * window, the three leads, and the verify scores row-exactly.
    */
  private def erSortedPairsQ(s: SparkSession, dir: String): DataFrame = {
    val (base, kindA, kindB, _) = erParts(s, dir)
    ops.EntityResolution.sortedNeighborPairs(
      base.unionByName(kindA).unionByName(kindB), "rec_id", "name",
      thresholdPpm = 550000L, windowSize = 4, prefixLen = 1)
  }

  /** Linkage evaluation over the planted universe INCLUDING the reversed-
    * name plants: detected = equality blocking ∪ sorted neighborhood (both
    * at 550000 ppm), truth = every planted same-entity pair — formatting,
    * typo, the formatting×typo transitive pair, AND the reversed-name pair
    * that carries zero name evidence. Recall is therefore honestly below
    * one (the reversed plants measure the name-evidence ceiling); precision
    * stays at one because random hex trigram noise never crosses the
    * threshold. All counts and ppm values replay exactly.
    */
  /** Session-scoped materialization of the detector tables `er_eval` and
    * `er_eval_fs` SHARE (the pipeline_* shared-CTE discipline applied
    * across two registered queries): the planted-universe assembly, the
    * equality-blocking detector, the sorted-neighborhood detector, and the
    * truth pairs are identical in both, and were the two heaviest rows of
    * the whole bench precisely because each query rebuilt all of them.
    * First caller materializes the three pair tables to a temp dir keyed
    * by (application, sfDir) — truth commits LAST, so its _SUCCESS marks
    * the set complete — and every later caller in the same application
    * just reads parquet. Distributed end to end (writes, not collects;
    * the pair tables scale with the plant density). A lazy localCheckpoint
    * would NOT work across queries here: Verify unpersists all persistent
    * RDDs between queries, which truncates a checkpoint's lineage beyond
    * recovery — files survive, cached RDDs don't.
    */
  private def erDetectorTables(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-er-share-" +
      s"${s.sparkContext.applicationId}-${Integer.toHexString(dir.hashCode)}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/truth/_SUCCESS"))) {
      val (base, kindA, kindB, kindC) = erParts(s, dir)
      // stage boundary: recs feeds matchRecords (which consumes it twice —
      // blocking explode + trigram table) and sortedNeighborPairs; without
      // the lazy checkpoint the planted-universe derivation re-runs once
      // per consumer (the capstone multi-consumer lesson, 41.8 s -> 4.6 s)
      val recs = base.unionByName(kindA).unionByName(kindB).unionByName(kindC)
        .localCheckpoint(false)
      ops.EntityResolution.matchRecords(
        recs, "rec_id", "name", erBlocks, thresholdPpm = 550000L, maxBlock = 500)
        .select("a_id", "b_id")
        .write.mode("overwrite").parquet(s"$root/eq")
      ops.EntityResolution.sortedNeighborPairs(
        recs, "rec_id", "name", thresholdPpm = 550000L, windowSize = 4)
        .select("a_id", "b_id")
        .write.mode("overwrite").parquet(s"$root/snm")
      erTruthPairs(kindA, kindB, kindC)
        .write.mode("overwrite").parquet(s"$root/truth")
    }
    (s.read.parquet(s"$root/eq"), s.read.parquet(s"$root/snm"),
      s.read.parquet(s"$root/truth"))
  }

  private def erEvalQ(s: SparkSession, dir: String): DataFrame = {
    val (eq, snm, truth) = erDetectorTables(s, dir)
    ops.EntityResolution.linkageEval(eq.unionByName(snm), truth)
  }

  /** Every planted same-entity pair of the ER universe: formatting, typo,
    * the formatting×typo transitive pair, and the reversed-name plants.
    */
  private def erTruthPairs(
      kindA: DataFrame, kindB: DataFrame, kindC: DataFrame): DataFrame = {
    val ka = kindA.select((-col("rec_id") - 1L).as("a_id"), col("rec_id").as("b_id"))
    val kb = kindB.select((col("rec_id") - 3000000L).as("a_id"), col("rec_id").as("b_id"))
    val kc = kindC.select((col("rec_id") - 4000000L).as("a_id"), col("rec_id").as("b_id"))
    val kab = ka.select(col("a_id").as("k"), col("b_id").as("aid"))
      .join(kb.select(col("a_id").as("k"), col("b_id").as("bid")), "k")
      .select(col("aid").as("a_id"), col("bid").as("b_id"))
    ka.unionByName(kb).unionByName(kc).unionByName(kab)
  }

  /** Linkage evaluation WITH the Fellegi–Sunter detector in the union —
    * the recall gain multi-attribute evidence buys, measured against the
    * identical truth as `er_eval` (which stays registered unchanged as the
    * name-evidence-only baseline): the reversed-name plants carry ZERO
    * name evidence (er_eval's honest recall ceiling) but agree on nation,
    * segment, AND the high-cardinality balance — under the declared
    * weights (+5/+2/+35 agree vs −20 name disagreement) they cross the
    * match threshold, while a random same-attrs-block pair (balance
    * disagrees: −5, name disagrees: −20) sits deep below it. Precision
    * must hold at 1.0; recall must rise by exactly the reversed-plant
    * count. All weights are declared integers; the oracle replays every
    * agreement sum.
    */
  private def erEvalFsQ(s: SparkSession, dir: String): DataFrame = {
    import ops.EntityResolution.FieldWeight
    // eq + snm + truth come from the shared materialization (identical to
    // er_eval's by construction); only the FS detector is built here
    val (eq, snm, truth) = erDetectorTables(s, dir)
    val (base, kindA, kindB, kindC) = erParts(s, dir)
    val recs = base.unionByName(kindA).unionByName(kindB).unionByName(kindC)
      .localCheckpoint(false)
    val fs = ops.EntityResolution.matchRecordsWeighted(
      recs, "rec_id", "name", erBlocks,
      fields = Seq(FieldWeight("nation", 5L, -30L),
        FieldWeight("segment", 2L, -20L),
        FieldWeight("bal_cents", 35L, -5L)),
      nameAgreePpm = 550000L, nameAgree = 40L, nameDisagree = -20L,
      threshold = 20L, maxBlock = 500)
      .select("a_id", "b_id")
    ops.EntityResolution.linkageEval(
      eq.unionByName(snm).unionByName(fs), truth)
  }

  /** Composed panel anomaly: the resampled + forward-filled panel (the
    * resample_ffill stage verbatim) fed to the z-score outlier rule grouped
    * by the carried regime label — HOLDING-STATE statistics instead of
    * event-arrival statistics (an irregular sampler's stats overweight
    * active periods; the filled panel weights every user-bucket equally).
    * The contract here is the COMPOSITION: the panel's column shapes feed
    * zScoreOutliers' integral-value gate unchanged.
    */
  private def pipelinePanelAnomalyQ(s: SparkSession, dir: String): DataFrame = {
    // stage boundary: zScoreOutliers consumes its input TWICE (the moment
    // branch and the attach side) — without the lazy checkpoint the whole
    // resample chain runs twice (the capstone multi-consumer lesson)
    val panel = ops.Temporal.resampleForwardFill(
      eventsFixedPoint(s, dir).withColumnRenamed("value", "v_cents"),
      tsCol = "ts", valueCols = Seq("v_cents", "event_type"),
      bucketSeconds = 21600L, maxFillBuckets = 8L,
      keys = Seq("user_id"), tieBreak = Some("event_id"))
      .localCheckpoint(false)
    ops.Stats.zScoreOutliers(panel, Seq("event_type"), "v_cents", z = 2.5)
      .select(col("user_id"),
        unix_micros(col("bucket_start")).as("bucket_start_us"),
        col("event_type"), col("v_cents"),
        round(col("z_score"), 6).as("z_score"))
  }

  /** events with value scaled to an exact integer (1e4 fixed-point) so sums
    * are shuffle-order- and engine-independent.
    */
  private def eventsFixedPoint(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("value", round(col("value") * 10000).cast("long"))

  /** Semi-structured column handling: parse the JSON `props` payload with a
    * declared schema (from_json — codegen'd, no UDF) and aggregate on the
    * extracted field.
    */
  private def eventsJsonExtract(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("k", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k").cast("long")).as("sum_k"),
        count(col("k")).as("n_with_k"))

  private def eventsWindowed(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedCounts(eventsFixedPoint(s, dir), "1 hour")

  private def eventsTopkWindowed(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedTopK(events(dir).load(s), k = 3, "1 hour")

  private def eventsSessions(s: SparkSession, dir: String): DataFrame =
    EventStream.sessionizeBatch(eventsFixedPoint(s, dir), gapMinutes = 30)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"), col("total_value"))

  /** Shared by the two segment cleaners: the test corpus has no natural
    * line breaks, so derive deterministic ones — every 12 tokens → one
    * "\n"-joined segment (the DuckDB twins build the identical segments from
    * token positions; ONE definition here so the two operators' prepared
    * inputs cannot drift).
    */
  private def twelveTokenSegments(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val nSeg = ceil(size(toks).cast("double") / 12).cast("int")
    val segText = when(size(toks) > 0,
      array_join(transform(sequence(lit(0), nSeg - 1),
        i => array_join(slice(toks, i * 12 + 1, lit(12)), " ")), "\n")).otherwise(lit(""))
    docs(s, dir).select(col("doc_id"), segText.as("seg_text"))
  }

  /** C4-style segment dedup over the synthesized 12-token segments. */
  private def dedupSegmentsQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSegments(twelveTokenSegments(s, dir), "doc_id", "seg_text")
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_segments"), col("n_kept"))

  /** Intra-doc repetition removal over the same synthesized 12-token
    * segments: repeats WITHIN a doc collapse to the first occurrence,
    * cross-doc repeats untouched (the zero-shuffle member of the family).
    */
  private def dedupWithinDocQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupWithinDoc(twelveTokenSegments(s, dir), "doc_id", "seg_text")
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_segments"), col("n_kept"))

  /** DF-based boilerplate strip over the same synthesized 12-token
    * segments: segments in more than one document vanish from every doc.
    */
  private def stripBoilerplateQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.stripBoilerplate(twelveTokenSegments(s, dir), "doc_id", "seg_text",
        maxDocFreq = 1)
      .select(col("id").as("doc_id"), col("text_kept"),
        col("n_segments"), col("n_kept"))

  /** Substring-clean THEN collapse — the composed cleaner a platform runs
    * when window dedup can empty docs entirely: [[Dedup.dedupWindows]] over
    * the planted corpus, then [[Dedup.exact]] on the CLEANED text, so every
    * fully-deduplicated doc (text_dedup = "") collapses into ONE canonical
    * empty doc and partially-cleaned docs that became identical collapse
    * too. Pins the composition: dedup_windows' output columns feed exact's
    * content key unchanged, and the canonical row's n_kept rides through
    * exact's arg-min struct.
    */
  private def pipelineSubstringDedup(s: SparkSession, dir: String): DataFrame = {
    val cleaned = Dedup.dedupWindows(docsWithPlantedRuns(s, dir), "doc_id", "text",
      windowTokens = 12, stride = 6)
    Dedup.exact(cleaned, Seq("text_dedup"), "id")
      .select(col("id").as("doc_id"), col("n_dups"), col("n_kept"))
  }

  /** Deterministic multi-line synthesis for the C4 line filter: 12-token
    * segments become lines, each ending in '.' UNLESS (doc_id + segIndex)
    * is divisible by 3 (those lines fail the terminal-punctuation rule);
    * every 4th doc gets a planted boilerplate line carrying a blocked
    * substring. Tail segments shorter than 3 tokens exercise the min-token
    * rule organically. The DuckDB twin rebuilds identical lines from token
    * positions.
    */
  /** The docsWithLines planting over ANY (doc_id, text) frame — shared by
    * the filter_lines query and the crawl-full capstone so the line
    * synthesis cannot drift between them. */
  private[graft] def withSyntheticLines(d: DataFrame): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val nSeg = ceil(size(toks).cast("double") / 12).cast("int")
    val segs = transform(sequence(lit(0), nSeg - 1), i =>
      concat(array_join(slice(toks, i * 12 + 1, lit(12)), " "),
        when((col("doc_id") + i) % 3 =!= 0, lit(".")).otherwise(lit(""))))
    val withBlocked = when(col("doc_id") % 4 === 0,
      concat(array(lit("please enable javascript and accept our cookie policy.")),
        segs)).otherwise(segs)
    d.select(col("doc_id"),
      when(size(toks) > 0, array_join(withBlocked, "\n"))
        .otherwise(lit("")).as("text"))
  }

  private def docsWithLines(s: SparkSession, dir: String): DataFrame =
    withSyntheticLines(docs(s, dir).select(col("doc_id"), col("text")))

  private def filterLinesQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.filterLines(docsWithLines(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_kept"),
        col("n_lines"), col("n_kept"))

  /** Multi-line docs for the Gopher gate: 12-token segments where every
    * (doc_id+i)%5==0 line opens with a bullet, every (doc_id+i)%7==0 line
    * ends in an ellipsis instead of a period, and every 6th doc re-appends
    * its first line — so the bullet/ellipsis/duplicate-line rules all
    * genuinely bind and vary per doc.
    */
  private def docsWithGopherLines(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val nSeg = ceil(size(toks).cast("double") / 12).cast("int")
    val segs = transform(sequence(lit(0), nSeg - 1), i =>
      concat(
        when((col("doc_id") + i) % 5 === 0, lit("- ")).otherwise(lit("")),
        array_join(slice(toks, i * 12 + 1, lit(12)), " "),
        when((col("doc_id") + i) % 7 === 0, lit("...")).otherwise(lit("."))))
    val withDup = when(col("doc_id") % 6 === 0, concat(segs, slice(segs, 1, 1)))
      .otherwise(segs)
    docs(s, dir).select(col("doc_id"),
      when(size(toks) > 0, array_join(withDup, "\n"))
        .otherwise(lit("")).as("text"))
  }

  /** The Gopher doc-shape gate over the planted multi-line corpus, rule
    * verdicts emitted as ints for the engine-neutral compare. Thresholds
    * chosen so every rule discriminates at sf0.01 (bullet 15% < the ~20%
    * planted rate, dup 10% vs 1 planted dup line per 6th doc, ellipsis 20%
    * vs the ~14% planted rate).
    */
  private def filterGopherQuery(s: SparkSession, dir: String): DataFrame = {
    val out = TextAnalysis.gopherFilter(docsWithGopherLines(s, dir),
      "doc_id", "text",
      minWords = 30, maxWords = 500,
      maxSymbolWordPct = 2, maxEllipsisLinePct = 20,
      maxBulletLinePct = 15, maxDupLinePct = 10)
    val flags = Seq("words_ok", "mean_word_len_ok", "alpha_ok", "symbol_ok",
      "bullet_ok", "ellipsis_ok", "dup_line_ok", "stopword_ok", "keep")
    out.select(col("doc_id") +: out.columns.filter(_.startsWith("n_")).map(col).toSeq ++:
      flags.map(f => col(f).cast("int").as(f)): _*)
  }

  /** The crawl-ingest composition a platform runs page by page: C4 line
    * filter → quality score over the KEPT text → >= 0.5 cut → exact dedup
    * of the cleaned content. Pins the chain's column contracts: the line
    * filter's `text_kept` feeds the scorer's text column AND rides through
    * `keep` into exact's content key; the canonical row's score survives
    * the arg-min struct. Fully-line-filtered docs score 0.25 and drop at
    * the quality cut — an empty page is not trainable content.
    */
  /** The FULL crawl-curation capstone — the whole platform chained once:
    * HTML extract → synthetic-line split + C4 line filter → Gopher gate →
    * exact dedup → MinHash canonicalize → quality-stratified mix →
    * shuffle shards. Every stage is the standard operator at the standard
    * oracle parameters (the single-stage rows 123/125/147/17/112/110/56);
    * this function only pins the COLUMN CONTRACTS between them. Takes the
    * raw (doc_id, text) frame so the hand-survival spec can feed
    * controlled documents through all seven stages.
    */
  private[graft] def crawlFullPipeline(raw: DataFrame): DataFrame = {
    // 1 — HTML extraction over the standard synthetic wrapper
    val extracted = TextAnalysis
      .extractHtmlText(withSyntheticHtml(raw), "doc_id", "text")
      .select(col("doc_id"), col("text_extracted").as("text"))
    // 2 — line synthesis (the docsWithLines planting) + C4 line filter.
    // Lazy checkpoint: the Gopher stage's interpreted HOF lambdas reference
    // the text several times per row — on top of the unmaterialized
    // extract+line expression tree that re-evaluation costs ~12 s at sf0.1;
    // materialized strings bring the stage back to its standalone cost
    val filtered = TextAnalysis
      .filterLines(withSyntheticLines(extracted), "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_kept"))
      .localCheckpoint(false)
    // 3 — Gopher gate at the filter_gopher oracle thresholds
    val gophered = TextAnalysis.gopherFilter(filtered, "doc_id", "text_kept",
        minWords = 30, maxWords = 500, maxSymbolWordPct = 2,
        maxBulletLinePct = 15, maxEllipsisLinePct = 20, maxDupLinePct = 10,
        keep = Seq("text_kept"))
      .filter(col("keep"))
      .select(col("doc_id"), col("text_kept"))
    // 4 — exact dedup of the cleaned text (min doc_id canonical, n_dups).
    // Lazy checkpoint: the canonicalize stage reads this frame from FOUR
    // consumers (minhash explode, CC ids, quality, the argmax join-back) —
    // without it each one re-runs the whole stage-1..4 cleaning chain
    // (measured 41.8 s vs ~12 s at sf0.1)
    val exactDeduped = Dedup.exact(gophered, Seq("text_kept"), "doc_id")
      .localCheckpoint(false)
    // 5 — MinHash canonicalize (the pipeline_canonicalize chain)
    val pairs = Dedup.minHashLsh(exactDeduped, "doc_id", "text_kept",
      threshold = 0.8).select("a_id", "b_id")
    val clusters = Dedup.connectedComponents(
      exactDeduped.select(col("doc_id").as("id")), pairs)
    val quality = TextAnalysis
      .qualityScore(exactDeduped, "doc_id", "text_kept", keep = Seq("n_dups"))
      .select(col("doc_id").as("id"), col("n_dups"), col("quality_score"))
    val canon = clusters.join(quality, "id")
      .groupBy(col("cluster"))
      .agg(min(struct((-col("quality_score")).as("nq"), col("id").as("cid"),
          col("n_dups").as("nd"))).as("_w"),
        count(lit(1)).as("n_members"))
      .select(col("_w.cid").as("doc_id"), (-col("_w.nq")).as("quality_score"),
        col("_w.nd").as("n_dups"), col("n_members"))
      // the three mix branches below each filter this frame — materialize
      // the whole seven-stage chain once, not thrice (lazy: the mix's own
      // first job pays for it)
      .withColumn("bucket",
        when(col("quality_score") >= 0.75, "head")
          .when(col("quality_score") >= 0.65, "middle").otherwise("tail"))
      .localCheckpoint(false)
    // 6 — quality-stratified mixing (head 2 epochs, middle 1, tail 30%)
    def part(b: String) = canon.filter(col("bucket") === b)
      .select("doc_id", "quality_score", "n_dups", "n_members")
    val mixed = ops.Sampling.mixCorpora(Seq(
      ("head", part("head"), 200),
      ("middle", part("middle"), 100),
      ("tail", part("tail"), 30)), "doc_id")
    // 7 — shuffle-sharding on the (doc, copy) identity
    val keyed = mixed.withColumn("shard_key",
      concat(col("doc_id").cast("string"), lit("_"), col("copy_id").cast("string")))
    ops.Sampling.shuffleShards(keyed, "shard_key", numShards = 8)
      .select(col("doc_id"), col("mix_source"), col("copy_id"),
        col("quality_score"), col("n_dups"), col("n_members"),
        col("shard"), col("position"))
  }

  /** sf-corpus capstone run: documents plus exact twins (same text,
    * doc_id+100002 — offset ≡ 0 mod 3 keeps the line-punct planting
    * identical, so the twin's cleaned text is byte-identical and stage 4
    * provably collapses it; near-dup merging is pinned by the hand spec,
    * where token streams are controlled). */
  private def pipelineCrawlFull(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    crawlFullPipeline(d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 100002L)))
  }

  private def pipelineCrawlClean(s: SparkSession, dir: String): DataFrame = {
    val filtered = TextAnalysis.filterLines(docsWithLines(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_kept"))
    val scored = TextAnalysis
      .qualityScore(filtered, "doc_id", "text_kept", keep = Seq("text_kept"))
      .filter(col("quality_score") >= 0.5)
    Dedup.exact(scored, Seq("text_kept"), "doc_id")
      .select("doc_id", "n_dups", "quality_score")
  }

  /** Real frame-container roundtrip over the closed-form synthetic videos,
    * with every 9th payload truncated to 6 bytes (shorter than the
    * container header — structurally undecodable): corrupt rows must drop,
    * decoded rows must match the per-(frame, pixel) generator arithmetic
    * the oracle replays.
    */
  private def videoStats(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal
      .synthesizeVideos(s, docs(s, dir).select("doc_id"), "doc_id")
      .withColumn("payload",
        when(col("item_id") % 9 === 0, expr("substring(payload, 1, 6)"))
          .otherwise(col("payload")))
    Multimodal.videoStats(s, media)
  }

  /** Deterministic synthetic HTML wrapper around every doc: script/style/
    * comment blocks whose CONTENTS must vanish, attributes, a self-closing
    * tag, every decoded entity, and the double-decode trap (`&amp;lt;` must
    * extract as the literal `&lt;`). The DuckDB twin replays the same
    * concatenation.
    */
  private[graft] val htmlPrefix =
    "<html><head><title>t</title><style>body { color: red; }</style>" +
      "<script>var x = 1 && 2;</script><!-- hidden --></head>" +
      "<body><p id=\"a\">"
  private[graft] val htmlSuffix =
    "</p><br/><div class=\"f\">Tom &amp; Jerry &lt;3 &quot;q&quot; " +
      "&#39;s&#39; &amp;lt; x&nbsp;y</div></body></html>"

  /** The synthetic HTML wrapper over ANY (doc_id, text) frame — shared by
    * the extract_html query and the crawl-full capstone. */
  private[graft] def withSyntheticHtml(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(lit(htmlPrefix), col("text"), lit(htmlSuffix)).as("text"))

  private def docsWithHtml(s: SparkSession, dir: String): DataFrame =
    withSyntheticHtml(docs(s, dir).select(col("doc_id"), col("text")))

  private def extractHtmlQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.extractHtmlText(docsWithHtml(s, dir), "doc_id", "text")

  /** Incremental crawl ingest over the planted corpus: the accepted
    * reference snapshot is every 3rd doc, the batch is the rest — the
    * planted run rides BOTH sides (doc_id % 4 crosses doc_id % 3), so
    * batch windows die against reference substrings at misaligned offsets
    * AND against earlier batch occurrences.
    */
  private def dedupWindowsAgainstQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docsWithPlantedRuns(s, dir)
    Dedup.dedupWindowsAgainst(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", windowTokens = 12, stride = 6)
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_tokens"), col("n_kept"))
  }

  /** 30-token run planted by [[docsWithPlantedRuns]] — fixed content, no
    * punctuation, already lowercase so the planted text IS its token stream.
    */
  private val PlantedRun: String =
    "the quick brown fox jumps over the lazy dog while ninety nine red " +
      "balloons drift across the harbor and the band plays on through the " +
      "long hot summer night again"

  /** documents with the fixed [[PlantedRun]] appended to every 4th doc
    * behind a VARYING pad-token prefix (doc_id % 5 pads) — cross-doc
    * duplicate substrings at arbitrary token offsets, deliberately
    * straddling any 12-token segment alignment: the case the segment
    * family (rows 96/100/111) cannot catch and sliding-window dedup
    * exists for. NULL text stays NULL (concat propagates), matching the
    * DuckDB `||` twin.
    */
  private def docsWithPlantedRuns(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" "),
          array_join(array_repeat(lit("pad"), (col("doc_id") % 5).cast("int")), " "),
          lit(" "), lit(PlantedRun)))
        .otherwise(col("text")).as("text"))

  /** Deterministic synthetic URL per doc — documents carry no url column, so
    * derive one: the host cycles `doc_id % 7` over a fixed table spanning a
    * two-label public suffix (example.co.uk behind two subdomains), an
    * unknown TLD earmarked for the blocklist (spam.test, two subdomains),
    * a shared .org registrable domain, and a plain .net host; the DuckDB
    * twin replays the same list-index pick.
    */
  private val UrlHosts: Seq[String] = Seq(
    "news.example.co.uk", "blog.example.co.uk", "www.spam.test",
    "cdn.spam.test", "a.example.org", "b.example.org", "docs.sample.net")

  private def docsWithUrls(s: SparkSession, dir: String): DataFrame = {
    val host = element_at(array(UrlHosts.map(lit): _*),
      (col("doc_id") % 7).cast("int") + 1)
    docs(s, dir).select(col("doc_id"), col("source"),
      concat(lit("https://"), host, lit("/"), col("source"), lit("/"),
        col("doc_id")).as("url"))
  }

  /** Messy deterministic URLs cycling three templates: mixed-case scheme/
    * host with a default port + utm pair + fragment; :80 http with gclid;
    * clean https with an fbclid between real params. The DuckDB twin
    * replays the same concatenation and the same canonicalization chain.
    */
  private def urlCanonicalizeQuery(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val url = when(id % 3 === 0,
        concat(lit("HTTPS://NEWS.Example.CO.UK:443/Path/"), id,
          lit("?utm_source=feed&id="), id, lit("&utm_campaign=x#frag")))
      .when(id % 3 === 1,
        concat(lit("http://blog.example.co.uk:80/p?id="), id, lit("&gclid=abc123")))
      .otherwise(
        concat(lit("https://docs.sample.net/Q/"), id, lit("?a=1&fbclid=zz&b=2")))
    docs(s, dir).select(id,
      ops.Url.canonicalizeUrl(url).as("canonical_url"))
  }

  /** Per-domain curation: registrable-domain extraction → blocklist
    * (spam.test) → deterministic 40-per-domain cap.
    */
  private def domainCapsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blocked = Seq("spam.test").toDF("value")
    ops.Url.domainCaps(docsWithUrls(s, dir), "url", "doc_id",
        maxPerDomain = 40, blockedDomains = blocked)
      .select("doc_id", "domain", "source")
  }

  /** Content-defined chunking dedup over a prefix-insertion plant: every
    * copy gains ONE leading token ('zzz'), the edit that de-aligns every
    * fixed-offset window — rolling-hash boundaries re-synchronize after
    * the first gramSize windows, so the copy shares essentially all its
    * chunks with its original and the duplicate-chunk report lights up.
    * All boundary hashes, chunk texts, and counts replay exactly.
    */
  private def cdcDupChunksQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", concat(lit("zzz "), col("text"))))
    Dedup.cdcDuplicateChunks(u, "doc_id", "text", gramSize = 8, modulus = 16)
  }

  /** Cross-snapshot CDC dedup: the accepted reference is every third doc,
    * the nightly batch is the rest PLUS zzz-prefixed copies of reference
    * docs — copies of ACCEPTED content that a fixed grid would miss after
    * the leading insertion. Plants separate cleanly (median ~676k
    * dup_token_ppm vs 0 organic at sf0.01): everything after the first
    * boundary matches; the head chunk honestly absorbs the edit, and a
    * short doc whose ONLY chunk is the whole text cannot resync at all —
    * the documented CDC granularity floor.
    */
  private def cdcDedupAgainstQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ref = d.filter(col("doc_id") % 3 === 0)
    val batch = d.filter(col("doc_id") % 3 =!= 0)
      .unionByName(ref.withColumn("doc_id", col("doc_id") + 300000L)
        .withColumn("text", concat(lit("zzz "), col("text"))))
    Dedup.cdcDedupAgainst(batch, ref, "doc_id", "text",
      gramSize = 8, modulus = 16)
  }

  /** Lee-et-al exact substring-window dedup over the planted corpus:
    * 12-token windows at stride 6 slide over the raw token stream, corpus-
    * wide first occurrence of each distinct window survives, docs reassemble
    * from covered tokens. Catches both the planted runs AND the corpus's
    * organic near-dup token runs, at any offset.
    */
  private def dedupWindowsQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupWindows(docsWithPlantedRuns(s, dir), "doc_id", "text",
        windowTokens = 12, stride = 6)
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_tokens"), col("n_kept"))

  /** End-to-end corpus cleaning: quality-filter then exact-dedup, the
    * composition a training-data pipeline actually runs. Output = surviving
    * canonical docs with their quality score. `qualityScore` carries the text
    * through (`keep`), so the whole pipeline is ONE text pass and ONE shuffle
    * (the dedup groupBy) — no joins, no checkpoint; the canonical row's score
    * rides inside the dedup arg-min struct.
    */
  private def pipelineCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis
      .qualityScore(docsWithExactDups(s, dir), "doc_id", "text", keep = Seq("text"))
      .filter(col("quality_score") >= 0.5)
    Dedup.exact(scored, Seq("text"), "doc_id")
      .select("doc_id", "n_dups", "quality_score")
  }

  /** DSIR-style importance resample: the 100 most English-like documents
    * (target = the `lang='en'` slice, raw = the whole corpus) by hashed
    * word-bigram probability ratio in the 2^20 fixed-point lane —
    * [[ops.Selection.importanceResample]]'s deterministic top-k.
    */
    /** Token-budget selection: deterministic integer quality (doc_id*7 % 101)
    * with real ties, n_chars as the token proxy, a 1M-token budget. */
  private def selectBudgetQ(s: SparkSession, dir: String): DataFrame =
    ops.Selection.selectToBudget(
      docs(s, dir).select(col("doc_id"),
        (col("doc_id") * 7 % 101).as("q"), col("n_chars")),
      "doc_id", "q", "n_chars", budget = 1000000L)
      .select("doc_id", "q", "n_chars", "cum_tokens")

  private def dsirSelect(s: SparkSession, dir: String): DataFrame =
    ops.Selection.importanceResample(
      docs(s, dir).filter(col("lang") === "en"),
      docs(s, dir), "doc_id", "text", numBuckets = 1024, k = 100)
      .withColumnRenamed("id", "doc_id")

  /** Deterministic 80/10/10 corpus split keyed on doc_id. */
  /** Exact stratified split: per-lang EXACT 80/10/10 counts under the
    * deterministic (md5(doc_id), doc_id) shuffle. */
  private def splitExactQ(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.exactStratifiedSplit(
      docs(s, dir).select(col("doc_id"), col("lang")),
      Seq("lang"), "doc_id", Seq(("train", 80), ("val", 10), ("test", 10)))
      .select("doc_id", "lang", "split")

  private def splitBucketsQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.splitBuckets(docs(s, dir).select("doc_id", "source"), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))

  /** Per-label embedding centroids via quantized mean pooling, emitted in
    * long form (one row per (label, dimension)) so the oracle compares
    * scalars, never array renderings.
    */
  private def embeddingMeanPool(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.meanPool(embs(s, dir), "label", "embedding")
      .select(col("label"), col("n_vecs"),
        posexplode(col("centroid")).as(Seq("dim", "mean_component")))

  /** Feature-correlation profile over lineitem's four measure columns in
    * ×100 fixed point (prices/rates carry two decimals): six unordered
    * pairs, exact integer moment sums, one IEEE step per pair.
    */
  private def columnCorrelations(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("ep"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
    ops.Stats.correlations(fp, Seq("q", "ep", "disc", "tax"))
  }

  /** Spearman matrix over the same four fixed-point lineitem columns as
    * column_correlations — the monotone-association screen beside the
    * linear one. The synthetic lineitem has no unique natural key
    * ((l_orderkey, l_linenumber) repeats), so the row key is a generated
    * id — legitimate here because the OUTPUT is invariant to id VALUES
    * (ranks come from the data; ids only keep rows distinct through the
    * re-pivot), which the operator's partitioning-invariance spec pins.
    */
  private def spearmanCorrelationsQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("ep"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
      .withColumn("_row", monotonically_increasing_id())
    ops.Stats.spearmanCorrelations(fp,
      Seq("_row"), Seq("q", "ep", "disc", "tax"))
  }

  /** Pairwise-complete Spearman over the same fixed-point lineitem columns
    * with DETERMINISTICALLY planted missingness (ep missing on every 3rd
    * order, disc on every 5th) so the per-pair n genuinely differ — the
    * sparse-table contract the listwise matrix cannot express (listwise
    * would shrink every pair to the fully-observed ~53% of rows).
    */
  private def spearmanPairwiseQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      when(col("l_orderkey") % 3 === 0, lit(null).cast("long"))
        .otherwise(round(col("l_extendedprice") * 100).cast("long")).as("ep"),
      when(col("l_orderkey") % 5 === 0, lit(null).cast("long"))
        .otherwise(round(col("l_discount") * 100).cast("long")).as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
    ops.Stats.spearmanPairwise(fp, Seq("q", "ep", "disc", "tax"))
  }

  /** Kendall τ-b over lineitem's four LOW-CARDINALITY ordinal columns —
    * quantity (50 levels), discount (11), tax (9), linenumber (7) — the
    * regime the operator is FOR: with this much tying Spearman's average
    * ranks wash out and τ-b's tie correction is the calibrated reading.
    * linenumber carries the same deterministic planted missingness as
    * spearman_pairwise (every 5th order) so the per-pair n genuinely
    * differ and a listwise replay cannot fake the oracle. The grids stay
    * ≤ 50×11 cells — the dense-grid contract the scaladoc states.
    */
  private def kendallTauQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"),
      when(col("l_orderkey") % 5 === 0, lit(null).cast("long"))
        .otherwise(col("l_linenumber").cast("long")).as("ln"))
    ops.Stats.kendallTau(fp, Seq("q", "disc", "tax", "ln"))
  }

  /** Recency-weighted per-user feature: half-life-decayed value sum as of
    * 2024-01-31 with a 6-hour half-life — the 30-day events table spans
    * ~120 half-lives, so the 40-half-life horizon genuinely binds (events
    * older than 10 days drop) while recent events carry decayed weight.
    */
  private def decayedFeatures(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.decayedSum(eventsFixedPoint(s, dir),
      keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
      halfLifeSeconds = 21600L,
      asOf = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-31T00:00:00Z")))

  /** Per-user trailing-7-day rolling count/sum over events (RANGE frame). */
  private def rollingFeatures(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.rollingAggregate(eventsFixedPoint(s, dir),
      keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
      windowSeconds = 7L * 86400L)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("roll_count").as("n_7d"), col("roll_sum").as("value_7d"))

  /** Attribution: for each purchase, clicks by the same user in the
    * preceding hour (half-open window — the purchase itself excluded).
    */
  private def eventAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsFixedPoint(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value"))
    ops.Temporal.precedingJoinAgg(purchases, clicks,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "click_ts",
      lookbackSeconds = 3600L, valueCol = "value", leftIdCols = Seq("event_id"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("preceding_count").as("n_clicks_1h"),
        col("preceding_sum").as("click_value_1h"))
  }

  /** documents with deterministic planted PII on every 5th doc. */
  private def docsWithPii(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".7")))
        .otherwise(col("text")))

  private def textPiiRedact(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redactPii(docsWithPii(s, dir), "doc_id", "text")

  /** documents with deterministic planted v2 identifiers: every category,
    * including a Luhn-VALID card in each written form (spaced, dashed,
    * contiguous 15-digit Amex) and two Luhn-REJECT cards — the checksum
    * reject is part of the oracle, not just the spec. */
  private def docsWithPiiV2(s: SparkSession, dir: String): DataFrame = {
    val plant = Map(
      0L -> " card 4111 1111 1111 1111 ok",
      1L -> " card 4111 1111 1111 1112 bad",
      2L -> " pay 5555-5555-5555-4444 now",
      3L -> " amex 378282246310005 billed",
      4L -> " iban DE89370400440532013000 wired",
      10L -> " code DE89370400440532013001 rejected",
      5L -> " call +44 20 7946 0958 today",
      6L -> " call (415) 555-2671 today",
      7L -> " fax 555-123-4567 attn",
      9L -> " order 1234567890123456 shipped")
    val planted = plant.foldLeft(
      when(col("doc_id") % 11 === 8,
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".7")))) { case (acc, (k, suffix)) =>
      acc.when(col("doc_id") % 11 === k, concat(col("text"), lit(suffix)))
    }
    docs(s, dir).withColumn("text", planted.otherwise(col("text")))
  }

  private def textPiiRedactV2(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redactPiiV2(docsWithPiiV2(s, dir), "doc_id", "text")

  private def sampleHash(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.hashSample(docs(s, dir), "doc_id", percent = 10)
      .select("doc_id", "lang", "source")

  private def filterBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blocked = Seq("src3", "src7", "src11").toDF("value")
    ops.Sampling.filterBlocklist(docs(s, dir), "source", blocked)
      .select("doc_id", "source")
  }

  private def corpusQuantiles(s: SparkSession, dir: String): DataFrame =
    ops.Stats.groupedQuantiles(docs(s, dir), Seq("lang"), "n_chars",
      Seq(0.25, 0.5, 0.75))

  /** Mergeable quantile sketch: per-lang bottom-64 md5-priority registers
    * over n_chars, estimates at p25/p50/p75 from the registers, plus a
    * fingerprint over every register priority — so the oracle pins the
    * whole digest pick bit-for-bit, not just the few rank rows. */
  private def quantileSketchQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("lang").isNotNull)
    val reg = ops.Sketch.quantileRegisters(d, Seq("lang"), "n_chars", "doc_id",
      k = 64, seed = "qsk14")
    val est = ops.Sketch.quantileEstimate(reg, Seq("lang"),
      Seq(250000L, 500000L, 750000L))
    val fp = reg.groupBy(col("lang")).agg(
      md5(array_join(sort_array(collect_list(col("priority"))), ",")
        .cast("binary")).as("registers_fp"))
    est.join(fp, Seq("lang"))
  }

  /** Eval-set leakage check: benchmark = every 97th doc, corpus = everything;
    * the benchmark docs must flag themselves (every gram hits) and near-dups
    * flag partially.
    */
  private def decontaminateCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 97 === 0)
    Dedup.decontaminate(d, bench, "doc_id", "text")
  }

  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
      Map("en" -> 5, "de" -> 40), defaultPercent = 80)
      .select("doc_id", "lang", "source")

  private def shardLayout(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.shuffleShards(docs(s, dir).select("doc_id", "lang"), "doc_id",
      numShards = 8)

  /** Domain balancing: at most 37 docs per language, smallest-digest-first
    * (exact deterministic cap, not a rate sample).
    */
  private def capPerGroupQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.capPerGroup(docs(s, dir).select("doc_id", "lang", "source"),
      "lang", "doc_id", maxPerGroup = 37)

  /** The end-to-end semantic-rebalance story a training-data platform runs
    * as one job: k-means cluster the embedding corpus (deterministic Lloyd,
    * broadcast-matrix kernel) → cap every cluster at 25 vectors (exact
    * digest-order cap — domain balancing) → deterministic shuffle-shards for
    * the training loader. Every stage is the already-oracle-checked operator;
    * this entry pins their COMPOSITION (column contracts, null-safety,
    * determinism through all three shuffles) end-to-end in DuckDB.
    */
  private def pipelineClusterShard(s: SparkSession, dir: String): DataFrame = {
    val clusters = Similarity.kmeansAssign(knnCorpus(s, dir), numClusters = 16)
    val capped = ops.Sampling.capPerGroup(clusters, "cluster", "id", maxPerGroup = 25)
      .select("id", "cluster")
    ops.Sampling.shuffleShards(capped, "id", numShards = 4)
      .select(col("id").as("vec_id"), col("cluster"), col("shard"), col("position"))
  }

  /** The end-to-end TEXT loader-prep story, the text twin of
    * [[pipelineClusterShard]]: Gopher-rule quality filter (keep
    * quality_score >= 0.5) → greedy sequence packing of the survivors into
    * 512-token bins per source → deterministic shuffle-shards for the
    * training loader. Every stage is an already-oracle-checked operator;
    * this entry pins their COMPOSITION — that packing sees exactly the
    * filtered doc set (offsets/bins shift with every dropped doc) and the
    * shard positions stay deterministic over the packed rows.
    */
  private def pipelineTextPack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kept = d.join(
      TextAnalysis.qualityScore(d, "doc_id", "text")
        .filter(col("quality_score") >= 0.5).select("doc_id"),
      Seq("doc_id"))
    val packed = TextAnalysis.packSequences(kept, "doc_id", "text",
      tokenBudget = 512, partitionKey = "source")
    ops.Sampling.shuffleShards(
      packed.select("doc_id", "source", "n_tokens", "start_offset", "bin"),
      "doc_id", numShards = 4)
      .select("doc_id", "source", "n_tokens", "start_offset", "bin",
        "shard", "position")
  }

  /** 32-token chunks with stride 24 (overlapping pretraining windows). */
  private def chunkDocs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
      chunkTokens = 32, stride = 24)

  private def topNgram(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgramStats(docs(s, dir), "doc_id", "text", n = 2)

  /** Rare = corpus occurrence count <= 2. */
  private def rareTokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rareTokenStats(docs(s, dir), "doc_id", "text", maxCount = 2L)

  /** Incremental dedup: docs with doc_id % 3 == 0 play the prior snapshot. */
  private def dedupAgainstSnapshot(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.dedupAgainst(d, d.filter(col("doc_id") % 3 === 0), Seq("text"))
      .select("doc_id", "lang", "source")
  }

  /** Generic as-of enrichment: each purchase picks the same user's most
    * recent click at-or-before it within 3 days (ties on the click timestamp
    * break to the greatest click event_id). No-match columns surface as -1
    * sentinels (value is always > 0) so the cross-engine compare stays
    * integer-exact — nullable ints decay to float64 in both engines' pandas
    * bridges, which is a precision hazard at µs magnitudes.
    */
  /** Distribution drift between the first two weeks of events and the rest:
    * TVD per categorical column (event_type + a floor(value) band).
    */
  private def categoricalDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .withColumn("value_band", floor(col("value")).cast("long").cast("string"))
    val cut = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T00:00:00Z"))
    ops.Stats.categoricalDrift(
      ev.filter(col("ts") < lit(cut)),
      ev.filter(col("ts") >= lit(cut)),
      Seq("event_type", "value_band"))
  }

  /** Decile features over the event values, per event type — the row-level
    * bucket assignment (groupedQuantiles returns the cut VALUES; this tags
    * every row), deterministic via the (value, event_id) total order.
    */
  private def equiDepthBinsQuery(s: SparkSession, dir: String): DataFrame =
    ops.Stats.equiDepthBins(events(dir).load(s),
      Seq("event_type"), "value", "event_id", k = 10)
      .select(col("event_id"), col("event_type"), col("value"), col("bin"))

  /** Continuous drift over the same two-week split: `value` binned with the
    * histogram arithmetic (0–500, 25 bins — the `value_histogram` spec) and
    * `user_id` binned 0–200 in 20 (a population shift would land here).
    */
  private def numericDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val cut = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T00:00:00Z"))
    ops.Stats.numericDrift(
      ev.filter(col("ts") < lit(cut)),
      ev.filter(col("ts") >= lit(cut)),
      Seq(("value", 0.0, 500.0, 25), ("user_id", 0.0, 200.0, 20)))
  }

  /** SCD2 history build over the event log: each user's event_type runs
    * become [valid_from, valid_to) rows (no-op repeats extend the interval).
    */
  private def scd2Intervals(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.scd2(events(dir).load(s), "user_id", "ts", Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"))

  private def asofJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    ops.Temporal.asofJoin(purchases, clicks,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("event_id", "value"),
      direction = "backward", toleranceSeconds = Some(3L * 86400L),
      tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("asof_ts_us"),
        coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"),
        coalesce(round(col("asof_value") * 100).cast("long"), lit(-1L))
          .as("asof_value_cents"))
  }

  /** Interval join without an equality key: 40 overlapping 6-hour analysis
    * windows (4-hour stride) against the event stream, aggregated per window.
    * The grid-bucketed join keeps the plan a hash join — a naive range join
    * here is a nested-loop scan of every event against every window.
    */
  private def intervalJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val strideUs = 4L * 3600000000L
    val widthUs = 6L * 3600000000L
    val iv = s.range(40).select(
      col("id").cast("int").as("window_id"),
      timestamp_micros(lit(StartUs) + col("id") * strideUs).as("w_start"),
      timestamp_micros(lit(StartUs) + col("id") * strideUs + widthUs).as("w_end"))
    val ev = eventsFixedPoint(s, dir).select(col("ts"), col("value"))
    ops.Temporal.intervalJoin(ev, iv, "ts", "w_start", "w_end",
      bucketSeconds = 6L * 3600L)
      .groupBy(col("window_id"), col("w_start"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window_id"), unix_micros(col("w_start")).as("w_start_us"),
        col("n_events"), col("sum_value"))
  }

  private def embeddingQuantize(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.quantizeInt8(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .select("vec_id", "scale", "q_str")

  /** JL sign projection 64 → 16 dims, integer-exact (see
    * [[ops.Embeddings.randomProject]]); the oracle regenerates the md5-parity
    * sign matrix entirely in SQL — no literals cross engines.
    */
  private def embeddingProject(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.randomProject(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      dim = 64, outDim = 16)
      .select("vec_id", "proj_str")

  private def embeddingNormalize(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.l2NormalizeFixed(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .select("vec_id", "norm", "u_str")

  /** documents with deterministic mess planted on every 4th doc (uppercase,
    * runs of spaces, tabs, a C0 control char) so normalization has real work.
    */
  private def docsWithMess(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text",
      when(col("doc_id") % 4 === 0,
        concat(lit("The  QUICK\tStart "), col("text"), lit("  End\u0001Line ")))
        .otherwise(col("text")))

  private def textNormalize(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.normalizeText(docsWithMess(s, dir), "doc_id", "text")

  private def invertedIndexQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(docs(s, dir), "doc_id", "text", maxPostings = 8)
      .select("term", "n_occurrences", "n_docs", "postings_str")

  /** Pretraining mixture: 2.5 epochs of src0, 1 epoch of src1, a 30% sample
    * of src2 — deterministic per doc_id.
    */
  private def mixCorporaQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "source")
    ops.Sampling.mixCorpora(Seq(
      ("web", d.filter(col("source") === "src0"), 250),
      ("books", d.filter(col("source") === "src1"), 100),
      ("code", d.filter(col("source") === "src2"), 30)), "doc_id")
  }

  /** Temperature mixing over the three largest language corpora (en 218 /
    * zh 75 / es 73 at sf0.01): √-scaling downweights en to ~0.77 epochs and
    * upweights zh/es to ~1.3 — real discrimination, replayed exactly.
    */
  private def mixTemperatureQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "lang")
    ops.Sampling.temperatureMix(Seq(
      ("en", d.filter(col("lang") === "en")),
      ("zh", d.filter(col("lang") === "zh")),
      ("es", d.filter(col("lang") === "es"))), "doc_id")
  }

  /** Link authority over the customer→supplier purchase graph (suppliers
    * offset into their own id space): the crawl-curation ranking signal,
    * integer-exact so the oracle replays every iteration.
    */
  private def pageRankQuery(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    ops.Graph.pageRank(edges, "src", "dst")
  }

  /** PageRank with dangling-mass redistribution over the same purchase
    * graph: every supplier node is a sink (suppliers never link out), so
    * the leaky formulation sheds their entire rank each iteration; with
    * the correction that mass returns as a uniform per-node share — total
    * rank is conserved up to integral-division floors, and customer ranks
    * rise strictly above the `page_rank` baseline. Same integer lane,
    * one extra 1-row aggregate + broadcast per iteration.
    */
  private def pageRankDanglingQuery(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    ops.Graph.pageRank(edges, "src", "dst", redistributeDangling = true)
  }

  /** 3-core of the purchase graph plus a planted double-chain filament
    * (nodes 2000001..2000025, edges (i,i+1) and (i,i+2)): the chain's ends
    * sit at degree 2 and each removal drops the next node to 2, so the
    * filament peels from both ends INWARD — 12 cascade rounds no single
    * degree filter could express — while the main graph's ≥3-degree body
    * survives untouched. The oracle unrolls 16 peel layers: the k-core is
    * the unique maximal fixed point and post-convergence layers are
    * no-ops, so a generous fixed unroll replays the early-stopping engine
    * exactly.
    */
  private def kCoreQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val chain = s.range(1, 25)
      .select((col("id") + 2000000L).as("src"), (col("id") + 2000001L).as("dst"))
      .unionByName(s.range(1, 24)
        .select((col("id") + 2000000L).as("src"), (col("id") + 2000002L).as("dst")))
    ops.Graph.kCore(edges.unionByName(chain), "src", "dst", k = 3)
  }

  /** Link communities over the same customer→supplier purchase graph the
    * PageRank signal ranks: 4 synchronous label-propagation rounds with the
    * (count DESC, label ASC) winner — deterministic, so the oracle unrolls
    * every round as plain SQL over the mirrored edge list.
    */
  private def graphCommunitiesQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    ops.Graph.labelPropagation(edges, "src", "dst", rounds = 4)
  }

  /** HyperBall neighborhood panel over the purchase graph plus a planted
    * 40-node PATH (nodes 3000001..3000040, its own component): the dense
    * bipartite body saturates its balls within ~2 sweeps while the path's
    * balls grow by exactly two nodes per radius — so every radius of the
    * panel carries a real delta instead of an immediate fixed point. p=4
    * (16 registers — the low-precision web-scale posture HyperBall's own
    * paper runs; the register table is the exact artifact, precision only
    * widens estimate error bars), maxRadius 3, undirected.
    */
  private def graphNeighborhoodQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val path = s.range(1, 40)
      .select((col("id") + 3000000L).as("src"), (col("id") + 3000001L).as("dst"))
    ops.Graph.neighborhoodFunction(
      edges.unionByName(path), "src", "dst", maxRadius = 3, p = 4)
  }

  /** Harmonic centrality via HyperBall over the same graph — the
    * CommonCrawl-style curation ranking, every node scored in three edge
    * sweeps on the integral quantized-estimator lane.
    */
  private def graphHarmonicQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val path = s.range(1, 40)
      .select((col("id") + 3000000L).as("src"), (col("id") + 3000001L).as("dst"))
    ops.Graph.harmonicCentrality(
      edges.unionByName(path), "src", "dst", maxRadius = 3, p = 4)
  }

  /** Triangle counts over the co-supply graph: suppliers are adjacent when
    * they ship line items in at least 28 common orders (the strength
    * threshold keeps the graph sparse — below it the co-supply relation
    * degenerates toward the complete graph and triangles stop meaning
    * community). [[ops.Graph.triangleCounts]] with the degree-ordered
    * orientation; the oracle counts x<y<z triangles by numeric order —
    * orientation must be invisible in the result.
    */
  private def triangleCountQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val co = li.select(col("ok"), col("sk").as("s1"))
      .join(li.select(col("ok"), col("sk").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 28)
    ops.Graph.triangleCounts(co, "s1", "s2")
  }

  private def cooccurrenceQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurrence(docs(s, dir), "doc_id", "text", window = 2, topK = 50)

  private def topTermsQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTermsPerDoc(docs(s, dir), "doc_id", "text", k = 3)

  private def sourceOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/supplier_orc"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/supplier.parquet").load(s)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      out, SourceFormat.Orc)
    GraftSource.of(table = Some(out), format = SourceFormat.Orc).load(s)
  }

  // parquet → avro container files (graft.sources.AvroIO — no spark-avro
  // offline, so the Hadoop input/output formats carry it) → GraftSource read
  // back; the oracle reads the original parquet, so the hash match proves the
  // long/string/double lanes survive the row-format roundtrip bit-exactly
  private def sourceAvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/customer_avro"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/customer.parquet").load(s)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
      out, SourceFormat.Avro)
    GraftSource.of(table = Some(out), format = SourceFormat.Avro).load(s)
  }

  // =================================================================
  // §2.3 analytics headliners
  // =================================================================

  // UTC-pinned via tsOf: Timestamp.valueOf parses in the JVM DEFAULT time
  // zone (the harness pins only spark.sql.session.timeZone), so the cutoff
  // instants — and the oracle comparison — would shift with the machine
  private val Q1Cutoff = tsOf(904694400000000L) // 1998-09-02T00:00:00Z
  private val Q3Cutoff = tsOf(896659200000000L) // 1998-06-01T00:00:00Z
  private val Q5Start = tsOf(820454400000000L) // 1996-01-01T00:00:00Z
  private val Q5End = tsOf(852076800000000L) // 1997-01-01T00:00:00Z

  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val l = GraftSource.of(table = Some(s"$dir/lineitem.parquet"),
      timestampField = Some("l_shipdate")).load(s)
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.filter(col("l_shipdate") <= lit(Q1Cutoff))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_e2"),
        sum(round(disc * 100).cast("long")).as("sum_disc_e2"),
        sum(round(disc * (lit(1) + col("l_tax")) * 100).cast("long")).as("sum_charge_e2"),
        count(lit(1)).as("count_order"))
  }

  private def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = GraftSource.of(table = Some(s"$dir/orders.parquet"),
      timestampField = Some("o_orderdate")).load(s)
      .filter(col("o_orderdate") < lit(Q3Cutoff))
    val li = GraftSource.of(table = Some(s"$dir/lineitem.parquet"),
      timestampField = Some("l_shipdate")).load(s)
      .filter(col("l_shipdate") > lit(Q3Cutoff))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_e2"))
    // no forced broadcast: the BUILDING segment scales with SF (cost-based
    // planning broadcasts it at bench SF; at 100 TB a shuffle join is right)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_e2")).as("revenue_e2"))
      .orderBy(col("revenue_e2").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_orderpriority"), col("revenue_e2"))
  }

  /** TPC-H Q5 shape: six-table join — the multi-join planning exercise.
    *
    * Broadcast is FORCED only for the dimensions whose size is bounded by
    * the schema (region = 5 rows, nation = 25 — constant at any SF).
    * Supplier and customer SCALE with the data (10k·SF / 150k·SF rows), so
    * their join strategy is left to cost-based planning: at bench SF the
    * parquet statistics make Catalyst broadcast them anyway (same plan), and
    * at 100 TB they correctly fall back to shuffle joins instead of
    * OOM-ing the driver on a forced hint.
    */
  private def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val region = s.read.parquet(s"$dir/region.parquet")
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    val nation = s.read.parquet(s"$dir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val asiaNations = nation.join(broadcast(region),
      col("n_regionkey") === col("r_regionkey")).select("n_nationkey", "n_name")
    val supplier = s.read.parquet(s"$dir/supplier.parquet")
      .select("s_suppkey", "s_nationkey")
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val customer = s.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_nationkey")
    val orders = GraftSource.of(table = Some(s"$dir/orders.parquet"),
      timestampField = Some("o_orderdate")).load(s)
      .filter(col("o_orderdate") >= lit(Q5Start) &&
        col("o_orderdate") < lit(Q5End))
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_e2"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(customer,
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_e2")).as("revenue_e2"))
  }

  private def cohortRetentionQuery(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.cohortRetention(events(dir).load(s), "user_id", "ts")

  /** Exact pairwise source-vocabulary overlap matrix over documents —
    * the brute-force ground truth next to the KMV sketch path.
    */
  private def vocabOverlapQ(s: SparkSession, dir: String): DataFrame =
    ops.TextAnalysis.vocabOverlap(
      s.read.parquet(s"$dir/documents.parquet").select("source", "text"),
      "source", "text")

  /** Vocabulary-novelty curve over ingest order (doc_id buckets of 500) —
    * the Heaps'-law freshness monitor: is new data still new language?
    */
  private def vocabNoveltyQ(s: SparkSession, dir: String): DataFrame =
    ops.TextAnalysis.vocabNovelty(
      s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
      "doc_id", "text", bucketSize = 500L)

  /** Weekly-cohort LTV curve over the event stream — what each entry
    * cohort has been worth by week w, per member.
    */
  private def cohortLtvQuery(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.cohortLtv(
      events(dir).load(s).select("user_id", "ts", "value"),
      "user_id", "ts", "value")

  /** First-order event transition matrix with ppm row probabilities —
    * [[ops.Temporal.transitionMatrix]] over the (ts, event_id) total order.
    */
  private def eventTransitions(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.transitionMatrix(events(dir).load(s),
      "user_id", "ts", "event_type", "event_id")

  /** Top-20 organic user journeys (first 8 events per user) —
    * [[ops.Temporal.topPaths]].
    */
  private def eventPaths(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.topPaths(events(dir).load(s),
      "user_id", "ts", "event_type", "event_id", maxLen = 8, k = 20)

  /** Per-user activity crosstab: one wide row per user with a count per
    * event type, as ONE conditional aggregation (`count(when(type = t))`
    * per declared value — the count-FILTER form). Deliberately NOT
    * `.pivot`: the values-less overload runs a collect-distinct job over
    * the corpus first (a full extra scan at 100 TB and a nondeterministic
    * column order), and even the explicit-values overload plans TWO
    * aggregations (`RewritePivot`'s per-(key, value) partial then the
    * pivot re-agg — two exchanges); the conditional form is one scan + one
    * exchange with map-side partials. Type cardinality is a catalog fact
    * the caller owns.
    */
  private def eventsPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(dir).load(s)
      .groupBy(col("user_id"))
      .agg(types.map(t => count(when(col("event_type") === t, 1)).as(s"n_$t"))
        .head, types.tail.map(t =>
        count(when(col("event_type") === t, 1)).as(s"n_$t")): _*)
  }

  /** Daily × type revenue rollup with grouping ids — the OLAP grouping-sets
    * surface: Spark's `rollup` plans ONE aggregation over an Expand (3
    * grouping levels in a single shuffle), never one scan per level.
    * `gid = grouping(dt)·2 + grouping(event_type)` spelled explicitly so the
    * bit order is engine-portable rather than an engine default.
    */
  private def eventsRollup(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("dt", to_date(col("ts")).cast("string"))
      .withColumn("v", round(col("value") * 10000).cast("long"))
      .rollup(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"),
        (grouping(col("dt")) * 2 + grouping(col("event_type")))
          .cast("long").as("gid"))

  /** Materialized-rollup range query: per-user totals for Jan 8–14 merged
    * from [[ops.Incremental.dailyState]]'s per-(day, user) partials — the
    * raw events are aggregated once into state and the range answer comes
    * from state rows alone.
    */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val state = ops.Incremental.dailyState(
      events(dir).load(s)
        .withColumn("v", round(col("value") * 10000).cast("long")),
      Seq("user_id"), "ts", "v")
    ops.Incremental.mergeState(state, Seq("user_id"), "2024-01-08", "2024-01-14")
  }

  /** CUBE over (dt, event_type) — rollup's four-grouping-set sibling (the
    * extra set: per-type totals across all days), still ONE Expand
    * aggregation in a single shuffle; same explicit gid arithmetic.
    */
  private def eventsCube(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("dt", to_date(col("ts")).cast("string"))
      .withColumn("v", round(col("value") * 10000).cast("long"))
      .cube(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"),
        (grouping(col("dt")) * 2 + grouping(col("event_type")))
          .cast("long").as("gid"))

  /** Smoothed target-mean encoding of event_type against the fixed-point
    * value — [[ops.Features.targetEncode]] at prior weight 20.
    */
  private def targetEncodeQuery(s: SparkSession, dir: String): DataFrame =
    ops.Features.targetEncode(
      events(dir).load(s)
        .withColumn("v", round(col("value") * 10000).cast("long")),
      "event_type", "v", priorWeight = 20L)

  /** Top-20 heaviest join keys on events.user_id with exact shares and
    * mean-relative heaviness — [[ops.Stats.keySkewProfile]], the
    * pre-join salting diagnostic.
    */
  private def keySkewQuery(s: SparkSession, dir: String): DataFrame =
    ops.Stats.keySkewProfile(events(dir).load(s), "user_id", k = 20)

  /** Per-type z-score standardization of the fixed-point event value —
    * [[ops.Features.standardize]]'s exact-moment form.
    */
  private def featureStandardize(s: SparkSession, dir: String): DataFrame =
    ops.Features.standardize(
      events(dir).load(s)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v")

  /** Per-type min-max scaling of the fixed-point event value to [0, 2^20]
    * — [[ops.Features.minMaxScale]], the no-float-step scaler.
    */
  private def featureMinMax(s: SparkSession, dir: String): DataFrame =
    ops.Features.minMaxScale(
      events(dir).load(s)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v")

  /** Median/IQR robust scaling of document length per language —
    * [[ops.Features.robustScale]], discrete order statistics, one integral
    * division. The oracle replays the rank picks and the toward-zero
    * division explicitly.
    */
  private def featureRobust(s: SparkSession, dir: String): DataFrame =
    ops.Features.robustScale(
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      Seq("lang"), "n_chars")

  /** Winsorize event values (1e4 fixed point) per event type at the
    * [p5, p95] discrete quantiles — [[ops.Features.winsorize]].
    */
  private def featureWinsorize(s: SparkSession, dir: String): DataFrame =
    ops.Features.winsorize(
      events(dir).load(s).select(col("event_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v", loPpm = 50000L, hiPpm = 950000L)

  /** Per-event-type percent rank of the fixed-point value — the exact ppm
    * ECDF transform ([[ops.Features.percentRank]]).
    */
  private def featurePercentRank(s: SparkSession, dir: String): DataFrame =
    ops.Features.percentRank(
      events(dir).load(s).select(col("event_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v")

  /** Hashing-trick encoding of the documents' categorical columns into 64
    * signed buckets, long form — [[ops.Features.featureHash]].
    */
  private def featureHashQuery(s: SparkSession, dir: String): DataFrame =
    ops.Features.featureHash(docs(s, dir), "doc_id", Seq("lang", "source"),
      numBuckets = 64)
      .withColumnRenamed("id", "doc_id")

  /** Tokenize docs against the corpus's own top-30 vocabulary (ids = rank
    * order — deterministic: count desc, token asc).
    */
  /** Top-30-by-frequency vocabulary (count desc, token asc — deterministic
    * cut), shared by `tokenize_ids` and `decode_ids`.
    */
  private def top30Vocab(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    docs(s, dir)
      .select(explode(graft.functions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(30)
      .withColumn("token_id", (row_number().over(w) - 1).cast("int"))
      .select("token", "token_id")
  }

  private def tokenizeIds(s: SparkSession, dir: String): DataFrame = {
    // the operator returns typed array<int> ids; the oracle needs a hashable
    // scalar, so the comma-join rendering lives HERE, not in the operator
    TextAnalysis.tokenizeToIds(docs(s, dir), "doc_id", "text", top30Vocab(s, dir))
      .select(col("id").as("doc_id"),
        array_join(transform(col("ids"), _.cast("string")), ",").as("ids_str"),
        col("n_tokens"), col("n_oov"))
  }

  /** Full vocabulary round trip: encode to ids under the top-30 vocab, then
    * decode back — OOV positions render as `<unk>` and are counted, never
    * dropped (sequence lengths must survive the round trip).
    */
  private def decodeIdsQ(s: SparkSession, dir: String): DataFrame = {
    val vocab = top30Vocab(s, dir).localCheckpoint(false)
    val encoded = TextAnalysis.tokenizeToIds(docs(s, dir), "doc_id", "text", vocab)
    TextAnalysis.decodeIds(encoded, "id", "ids", vocab)
      .select(col("id").as("doc_id"), col("decoded"), col("n_ids"), col("n_unknown"))
  }

  /** Per-source corpus report card (the dataset datasheet). */
  private def corpusReportQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.corpusReport(docs(s, dir), "text", "source")

  private def tableProfile(s: SparkSession, dir: String): DataFrame =
    ops.Stats.profile(
      eventsFixedPoint(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").as("value_e4"), unix_micros(col("ts")).as("ts_us")),
      Seq("event_id", "user_id", "event_type", "value_e4", "ts_us"))

  private def topEventsPerUser(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    events(dir).load(s)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("user_id"), col("event_id"), col("rank"))
  }

  // =================================================================
  // §2.4 sketches, PMI, vocabulary, CDC diff, priority sample
  // =================================================================

  private val CmsWidth = 512
  private val CmsDepth = 4

  /** Probe mix: frequent corpus tokens, mid-frequency tokens, and two absent
    * ones (exact 0 — the estimate shows pure collision noise).
    */
  private val CmsProbes =
    Seq("table", "spark", "window", "hash", "scan", "the", "zebra", "qq")

  /** CMS inner-product join-size estimate next to the exact answer: the
    * broadcast-vs-shuffle planning primitive, estimate always ≥ truth.
    */
  private def cmsJoinSizeQuery(s: SparkSession, dir: String): DataFrame = {
    val evs = events(dir).load(s).select(col("user_id"))
    val ords = s.read.parquet(s"$dir/orders.parquet").select(col("o_custkey"))
    val skA = ops.Sketch.countMinSketch(evs, "user_id", CmsWidth, CmsDepth)
    val skB = ops.Sketch.countMinSketch(ords, "o_custkey", CmsWidth, CmsDepth)
    val est = ops.Sketch.cmsJoinSize(skA, skB, CmsDepth)
      .select(col("est_join_size").cast("long").as("est_join_size"))
    val truth = evs.join(ords, col("user_id") === col("o_custkey"))
      .agg(count(lit(1)).as("true_join_size"))
    est.crossJoin(truth)
  }

  private def cmsCounts(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(explode(graft.functions.tokens(col("text"))).as("tok"))
    val sketch = ops.Sketch.countMinSketch(toks, "tok", CmsWidth, CmsDepth)
    val probes = s.createDataset(CmsProbes)(org.apache.spark.sql.Encoders.STRING)
      .toDF("tok")
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("_c"))
    val est = ops.Sketch.cmsEstimate(sketch, probes, "tok", CmsWidth, CmsDepth)
    est.join(exact, est("probe_key") === exact("tok"), "left")
      .select(est("probe_key").as("token"), col("est_count"),
        coalesce(col("_c"), lit(0L)).as("exact_count"))
  }

  private def hllRegistersQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.hllRegisters(events(dir).load(s),
      groupCols = Seq("event_type"), valueCol = "event_id", p = 8)

  /** The mergeability contract pinned THE HARD WAY: registers built
    * per-event-type and then MERGED (bucket-wise max, collapsing the type
    * dimension) must equal the oracle's registers built directly over the
    * union of rows — merge commutes with build, the property that lets
    * per-partition/per-day sketches roll up without raw values.
    */
  private def hllMergeQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.hllMergeRegisters(
      ops.Sketch.hllRegisters(
        events(dir).load(s)
          .filter(col("event_type").isin("click", "purchase")),
        groupCols = Seq("event_type"), valueCol = "event_id", p = 8),
      groupCols = Nil)

  private def vocabCoverageQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(docs(s, dir), "doc_id", "text", vocabSize = 30)

  private def pmiPairsQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiPairs(docs(s, dir), "doc_id", "text",
      window = 2, topK = 40, minPairs = 5)

  /** Snapshot B = A minus every 17th doc, every 13th doc's text revised,
    * every 23rd doc re-added under a shifted id — deterministic CDC workload.
    */
  private def snapshotDiffQuery(s: SparkSession, dir: String): DataFrame = {
    val a = docs(s, dir).select("doc_id", "text")
    val b = a.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" revised")))
          .otherwise(col("text")))
      .unionByName(a.filter(col("doc_id") % 23 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    ops.Snapshot.diff(a, b, keyCols = Seq("doc_id"), compareCols = Seq("text"))
  }

  private def samplePriority(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.prioritySample(docs(s, dir).select("doc_id", "lang", "source"),
      "doc_id", k = 60, seed = "r5")

  /** Weighted exact-k: documents sampled proportional to token count (the
    * token-budget-proportional selection a pretraining mixer wants) — the
    * A-ES race with hash-only comparisons, every min-of-w draw and the
    * bottom-k cut replayed exactly in DuckDB.
    */
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.weightedPrioritySample(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        least(size(graft.functions.tokens(col("text"))), lit(256))
          .cast("long").as("weight")),
      "doc_id", "weight", k = 50, seed = "w15")

  /** Per-language weighted exact-k: the language-balanced selection a
    * multilingual mixer wants — 12 docs per language, within-language
    * inclusion proportional to token count, one window exchange keyed on
    * lang.
    */
  private def sampleWeightedPerGroup(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.weightedSamplePerGroup(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        least(size(graft.functions.tokens(col("text"))), lit(256))
          .cast("long").as("weight")),
      Seq("lang"), "doc_id", "weight", k = 12, seed = "w15g")

  /** Batch twin of the streaming windowed-HLL sketch (same code path —
    * EventStream transforms run identically on batch inputs).
    */
  private def hllWindowed(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedDistinctSketch(events(dir).load(s), "user_id",
      windowDuration = "1 hour", p = 8)

  private def valueHistogram(s: SparkSession, dir: String): DataFrame =
    ops.Stats.histogram(events(dir).load(s), Seq("event_type"), "value",
      lo = 0.0, hi = 500.0, nBins = 25)

  private def eventFunnel(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.funnel(events(dir).load(s), "user_id", "ts", "event_type",
      steps = Seq("signup", "click", "purchase"))
      .select(col("user_id"),
        unix_micros(col("step1_ts")).as("step1_us"),
        unix_micros(col("step2_ts")).as("step2_us"),
        unix_micros(col("step3_ts")).as("step3_us"))

  /** The funnel dashboard panel: per-step completer counts + exact
    * lower-median time-to-convert between consecutive steps.
    */
  private def eventFunnelStats(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.funnelStats(events(dir).load(s), "user_id", "ts", "event_type",
      steps = Seq("signup", "click", "purchase"))

  /** Exact rank AUC of the (fixed-point) event value against the
    * is-purchase label — does value separate purchases? (It should not:
    * value is type-independent in this data, so the interesting part is
    * the exact ~0.5 the integer rank algebra must reproduce.)
    */
  private def evalAucQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.rankAuc(
      events(dir).load(s).select(
        round(col("value") * 10000).cast("long").as("score"),
        (col("event_type") === "purchase").as("label")),
      "score", "label")

  private def bloomSemiJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val urgent = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    ops.Skew.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey",
      numBits = 1 << 20, k = 5)
  }

  private def valueOutliers(s: SparkSession, dir: String): DataFrame =
    ops.Stats.zScoreOutliers(
      eventsFixedPoint(s, dir).select("event_id", "event_type", "value")
        .withColumnRenamed("value", "value_e4"),
      groupCols = Seq("event_type"), valueCol = "value_e4", z = 2.5)
      .select(col("event_id"), col("event_type"), col("value_e4"),
        round(col("z_score"), 6).as("z_score"))

  /** Robust (median/MAD) outliers over the same fixed-point lane as
    * value_outliers — the zScore panel's 50%-breakdown twin. */
  private def madOutliersQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.madOutliers(
      eventsFixedPoint(s, dir).select("event_id", "event_type", "value")
        .withColumnRenamed("value", "value_e4"),
      groupCols = Seq("event_type"), valueCol = "value_e4")

  /** Per-event-type linear trend of the fixed-point value over time —
    * which signals drift up or down, at what daily rate, and how linear
    * the drift is.
    */
  private def trendLinesQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.trendLines(
      eventsFixedPoint(s, dir).select("event_type", "ts", "value")
        .withColumnRenamed("value", "value_e4"),
      Seq("event_type"), "ts", "value_e4")

  /** Benford first-digit audit of the fixed-point event values per type —
    * the fraud/DQ screen: observed vs log10(1+1/d) leading-digit shares
    * with the per-group TVD deviation.
    */
  private def benfordAuditQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.benfordAudit(
      eventsFixedPoint(s, dir).select("event_type", "value")
        .withColumnRenamed("value", "value_e4"),
      Seq("event_type"), "value_e4")

  private def eventTypePivot(s: SparkSession, dir: String): DataFrame =
    ops.Stats.crosstabCounts(events(dir).load(s), "user_id", "event_type",
      Seq("click", "error", "purchase", "signup", "view"))

  private def q1Rollup(s: SparkSession, dir: String): DataFrame = {
    val l = GraftSource.of(table = Some(s"$dir/lineitem.parquet"),
      timestampField = Some("l_shipdate")).load(s)
    l.filter(col("l_shipdate") <= lit(Q1Cutoff))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("sum_qty"), col("n_rows"))
  }

  // =================================================================
  // wiring
  // =================================================================

  /** One entry per implemented operator from SURVEY.md §2. */
  // lazy val, not def: both maps are pure constants, and a def would rebuild
  // the ~90-entry map (oracleSql additionally regenerates hyperplanes and
  // megabytes of CTE strings) on EVERY per-key lookup the driver makes
  /** Co-purchase association rules over order-baskets of distinct parts:
    * cap 10 drops the 11-item tail baskets whole (the documented skew
    * contract, exercised at every SF), support 2 keeps the pair table at
    * rule-worthy co-occurrences. All three rule metrics land in the exact
    * ppm integral-division lane the oracle replays with `//`.
    */
  private def basketRulesQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    ops.Affinity.basketRules(li, "l_orderkey", "l_partkey",
      minSupport = 2L, maxBasketItems = 10)
  }

  /** Shared KMV register build for the two kmv_* queries: per-source
    * bottom-256 sketches over the distinct-token universe (in-row
    * array_distinct BEFORE the explode keeps the exploded volume at
    * per-doc-vocabulary size, not token count).
    */
  private def kmvSourceRegisters(s: SparkSession, dir: String): DataFrame = {
    val toks = s.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(array_distinct(graft.functions.tokens(col("text")))).as("tok"))
    ops.Sketch.kmvRegisters(toks, Seq("source"), "tok", k = 256, seed = "kmv")
  }

  /** Per-source vocabulary-cardinality estimates from the KMV sketch —
    * below capacity the sketch is exact; at capacity the (k−1)·2^60/U_(k)
    * integral estimate engages (it does at every SF: 25 docs/source
    * already carry >256 distinct tokens).
    */
  private def kmvDistinctQ(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.kmvEstimate(kmvSourceRegisters(s, dir), Seq("source"), k = 256)

  /** All 190 source-pair vocabulary overlaps from the same registers —
    * the intersect/Jaccard estimates HLL structurally cannot produce.
    */
  private def kmvJaccardQ(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.kmvPairwise(kmvSourceRegisters(s, dir), "source", k = 256)

  /** Exact KS statistic for all 10 event-type pairs over the value
    * distribution — the drift family's no-binning member; ~950 pooled
    * distinct values per 1000 events keep the dense V×G grid honest at
    * every SF.
    */
  private def ksTestQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value")
    ops.Stats.ksTest(ev, "event_type", "value")
  }

  /** Exact PR curve over the events value score against the purchase
    * label — one row per distinct score (~950 per 1000 events: the
    * continuous-score shape the banded two-phase cumulative exists for).
    */
  private def evalPrQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(col("value"), (col("event_type") === "purchase").as("label"))
    ops.Stats.prCurve(ev, "value", "label")
  }

  /** Daily CUSUM changepoint scan per event type over the value series —
    * where each type's cumulative value mass diverges most from uniform
    * accumulation.
    */
  private def cusumChangeQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.cusumChangepoint(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L)
      .withColumn("change_at_us", unix_micros(col("change_at")))
      .drop("change_at")

  /** Exact edit-distance self-join over customer names at distance 1 —
    * the organic serial-number structure (names differing in exactly one
    * digit) yields hundreds of true pairs at every SF with no fixture,
    * graded against all-pairs levenshtein ground truth.
    */
  private def editDistanceJoinQ(s: SparkSession, dir: String): DataFrame =
    ops.Dedup.editDistanceJoin(
      s.read.parquet(s"$dir/customer.parquet").select("c_custkey", "c_name"),
      "c_custkey", "c_name", maxDistance = 1, q = 3)

  /** Exact chi-square independence panel: is event type associated with
    * the day of week? The dow derives in the integer lane
    * ((epoch_day + 4) mod 7 — 1970-01-01 was a Thursday), never through a
    * session-timezone-dependent calendar function.
    */
  private def chiSquareQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s).select(col("event_type"),
      pmod(call_function("div", unix_micros(col("ts")), lit(86400000000L))
        + 4, lit(7)).as("dow"))
    ops.Stats.chiSquare(ev, "event_type", "dow")
  }

  /** Gini feature screen over events: target event_type; the integer-lane
    * day-of-week and a floor-value bucket are honest near-independent
    * features, while `leak` = length(event_type) is a PLANTED leaked
    * feature (a deterministic function of the target, with classes
    * error/click colliding at length 5) — the screen's defining reading:
    * the leak's gain approaches the parent impurity while honest
    * features sit near zero. Leak DETECTION is half of why this panel
    * runs before training at all.
    */
  private def giniGainQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s).select(
      col("event_type"),
      pmod(call_function("div", unix_micros(col("ts")), lit(86400000000L))
        + 4, lit(7)).cast("string").as("dow"),
      call_function("div", floor(col("value")).cast("long"), lit(20L))
        .cast("string").as("vbucket"),
      length(col("event_type")).cast("string").as("leak"))
    ops.Stats.giniGain(ev, "event_type", Seq("dow", "vbucket", "leak"))
  }

  /** Link-prediction panel over the co-supply graph (the triangle_count
    * graph: suppliers adjacent at >= 28 common orders) — every absent
    * edge at distance 2 scored by common neighbors / neighborhood
    * Jaccard / preferential attachment.
    */
  private def linkPredictQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val co = li.select(col("ok"), col("sk").as("s1"))
      .join(li.select(col("ok"), col("sk").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 28)
    ops.Graph.linkScores(co, "s1", "s2")
  }

  /** Calibration panel of the events value score against the purchase
    * label over 10 uniform bins — eval_pr's operating points ask "how do
    * precision and recall trade", this asks "does the score MEAN its
    * value" (and ece_ppm compresses the answer).
    */
  private def calibrationQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .select(col("value"), (col("event_type") === "purchase").as("label"))
    ops.Stats.calibration(ev, "value", "label", nBins = 10)
  }

  /** Weekly-seasonality anomaly panel per event type: daily value-mass
    * buckets compared against their own day-of-week mean, flagged outside
    * ±50% — "it's Sunday" and "something broke" separated.
    */
  private def seasonalAnomalyQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.seasonalAnomaly(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, periodBuckets = 7, bandPpm = 500000L)
      .withColumn("bucket_us", unix_micros(col("bucket")))
      .drop("bucket")

  /** asofJoin's third direction: each view event joins the CLOSEST
    * purchase of the same user within 12 hours, either side — |Δt| ties
    * to the earlier purchase, then to the greatest event_id.
    */
  private def nearestJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    ops.Temporal.asofJoin(views, purchases,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("event_id", "value"),
      direction = "nearest", toleranceSeconds = Some(12L * 3600L),
      tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("near_ts_us"),
        coalesce(col("asof_event_id"), lit(-1L)).as("near_event_id"),
        coalesce(round(col("asof_value") * 100).cast("long"), lit(-1L))
          .as("near_value_cents"))
  }

  /** Personalized PageRank over the purchase graph, restarting at nation-0
    * customers: every customer and supplier scored by proximity to that
    * nation's buying base — the seed-expansion signal.
    */
  private def personalizedPageRankQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val seeds = s.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_nationkey") === 0).select(col("c_custkey"))
    ops.Graph.personalizedPageRank(edges, "src", "dst", seeds, "c_custkey")
  }

  /** Interval intersection: each user's view-activity coverage (events
    * padded to 30-minute intervals, flattened) AND-ed with the click-
    * activity coverage — when was the user simultaneously inside both
    * kinds of stretch.
    */
  private def intervalIntersectQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    def iv(t: String, sc: String, ec: String) =
      ev.filter(col("event_type") === t)
        .select(col("user_id"), col("ts").as(sc),
          timestamp_micros(unix_micros(col("ts")) + 1800000000L).as(ec))
    ops.Temporal.intersectIntervals(
      iv("view", "a_s", "a_e"), iv("click", "b_s", "b_e"),
      "a_s", "a_e", "b_s", "b_e",
      bucketSeconds = 3600L, keys = Seq("user_id"))
      .withColumn("from_us", unix_micros(col("valid_from")))
      .withColumn("to_us", unix_micros(col("valid_to")))
      .drop("valid_from", "valid_to")
  }

  /** Activity-gap report: per-user silences over two days long in the
    * event stream — the sessionization complement (sessions are presence,
    * gaps are the alarms).
    */
  private def activityGapsQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.activityGaps(
      events(dir).load(s).select("user_id", "ts"), "user_id", "ts",
      minGapSeconds = 2L * 86400L)
      .withColumn("gap_start_us", unix_micros(col("gap_start")))
      .withColumn("gap_end_us", unix_micros(col("gap_end")))
      .drop("gap_start", "gap_end")

  /** Per-user inter-arrival burstiness panel over the event stream —
    * clock-like vs Poisson vs bursty in one exact-integer row per user.
    */
  private def interarrivalStatsQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.interarrivalStats(
      events(dir).load(s).select("user_id", "ts"), "user_id", "ts")

  /** k-anonymity / l-diversity audit of the customer table: equivalence
    * classes of (nation, segment) with account balance as the sensitive
    * attribute — the failing classes are the suppression work-list.
    */
  private def kAnonymityQ(s: SparkSession, dir: String): DataFrame =
    ops.Quality.kAnonymity(
      s.read.parquet(s"$dir/customer.parquet"),
      Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10L)

  /** FD audit: which orders violate l_orderkey → l_suppkey (i.e. were
    * supplied by more than one supplier) — an empty result would BE the
    * dependency holding.
    */
  private def fdCheckQ(s: SparkSession, dir: String): DataFrame =
    ops.Quality.functionalDependency(
      s.read.parquet(s"$dir/lineitem.parquet"),
      Seq("l_orderkey"), "l_suppkey")

  /** U-shaped multi-touch attribution: each purchase's 10^6 ppm of credit
    * split 40/20/40 across the user's view/click/signup touches in the
    * preceding 3 days, summed per channel.
    */
  private def positionAttributionQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val conv = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    ops.Temporal.positionAttribution(conv, touches, Seq("user_id"),
      convTsCol = "ts", convIdCol = "event_id",
      touchTsCol = "ts", touchIdCol = "event_id", channelCol = "event_type",
      lookbackSeconds = 3L * 86400L)
  }

  /** Exact 1-Wasserstein drift for all event-type pairs over the value
    * distribution — KS's sup-norm sibling reads the worst gap, this
    * integrates it: how much mass moved how far.
    */
  private def emdDriftQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value")
    ops.Stats.emdDrift(ev, "event_type", "value")
  }

  /** Exact Mann–Whitney rank-sum panel for all event-type pairs over the
    * value distribution — the drift trio's rank member: which population
    * runs systematically higher, with the tie-corrected z².
    */
  private def rankSumQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value")
    ops.Stats.rankSumTest(ev, "event_type", "value")
  }

  /** Customer-spend concentration per order priority — Gini / HHI /
    * top-10 share over per-customer order totals, exact micro-unit lane.
    */
  private def concentrationQ(s: SparkSession, dir: String): DataFrame = {
    val o = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderpriority", "o_custkey", "o_totalprice")
    ops.Stats.concentrationPanel(
      o, "o_orderpriority", "o_custkey", "o_totalprice", topK = 10)
  }

  /** Per-event-type Pareto frontier over users on (activity, value): the
    * undominated (n_events, value_micro) set — the exact SKYLINE operator.
    */
  private def paretoFrontQ(s: SparkSession, dir: String): DataFrame = {
    val peru = s.read.parquet(s"$dir/events.parquet")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value").cast("double") * 1000000L).cast("long"))
          .as("value_micro"))
    ops.Stats.paretoFront(
      peru, "event_type", "user_id", "n_events", "value_micro")
  }

  /** One-row degree/assortativity panel over the co-supplier graph (the
    * triangle_count graph shape at a >= 8 co-order threshold — 28 empties
    * it at sf0.1, where pair co-occurrence dilutes with supplier count).
    */
  private def graphAssortativityQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val co = li.select(col("ok"), col("sk").as("s1"))
      .join(li.select(col("ok"), col("sk").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 8)
    ops.Graph.degreeAssortativity(co, "s1", "s2")
  }

  /** Kaplan–Meier conversion-survival curves per entry cohort: per user,
    * duration = days from first event to first purchase (censored at the
    * corpus horizon when no purchase); cohort = the user's first event
    * type under the (day, type) total order.
    */
  private def kaplanMeierQ(s: SparkSession, dir: String): DataFrame = {
    val usPerDay = 86400000000L
    val ev = events(dir).load(s)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        call_function("div", unix_micros(col("ts")), lit(usPerDay)).as("day"))
      .localCheckpoint(false) // feeds the horizon pull AND the cohort agg
    // corpus horizon: bounded 1-row build-time pull (activeUsers precedent)
    val mxRow = ev.agg(max(col("day"))).head
    val maxDay = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    val subjects = ev.groupBy(col("user_id"))
      .agg(
        min(struct(col("day"), col("event_type"))).as("_first"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pday"))
      .select(
        col("_first.event_type").as("cohort"),
        coalesce(col("_pday"), lit(maxDay))
          .minus(col("_first.day")).as("duration"),
        col("_pday").isNotNull.as("converted"))
    ops.Temporal.kaplanMeier(subjects, "cohort", "duration", "converted")
  }

  /** Supplier co-membership graph from order containment: the bipartite
    * (order, supplier) list projected with the 100 TB cap observable —
    * orders with more than 6 distinct suppliers drop whole, co-counts
    * below 3 drop after.
    */
  private def bipartiteProjectQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    ops.Graph.bipartiteProject(li, "l_orderkey", "l_suppkey",
      maxPerLeft = 6, minWeight = 3L)
  }

  /** EWMA control chart per event type over daily value buckets — the
    * monitoring family's recency member next to cusum_change.
    */
  private def ewmaChartQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.ewmaChart(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, alphaPpm = 300000L)
      .withColumn("bucket_us", unix_micros(col("bucket"))).drop("bucket")

  /** Holt level+trend chart per event type over daily value buckets — the
    * monitoring family's forecasting member next to ewma_chart: the
    * residual is against the one-step forecast `level + trend`, so a
    * steadily growing series alarms on breaks, not on its own growth.
    */
  private def holtChartQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.holtChart(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, alphaPpm = 300000L, betaPpm = 100000L)
      .withColumn("bucket_us", unix_micros(col("bucket"))).drop("bucket")

  /** Holt–Winters level+trend+seasonality chart per event type over daily
    * value buckets, weekly period — the forecasting lane's seasonal
    * member: the residual is against `level + trend + day-of-week index`,
    * so a metric with a weekend dip alarms on breaks, not on Saturdays.
    */
  private def holtWintersQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.holtWintersChart(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, period = 7,
      alphaPpm = 300000L, betaPpm = 100000L, gammaPpm = 300000L)
      .withColumn("bucket_us", unix_micros(col("bucket"))).drop("bucket")

  /** Theil–Sen robust daily trend per event type — trend_lines' median-
    * slope twin: one corrupted day drags OLS, the pairwise-median vote
    * ignores it.
    */
  private def theilSenQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.theilSen(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L)

  /** Gap-based session panel per user over the event stream (30-minute
    * inactivity cut) — the batch counterpart to streaming sessions.
    */
  private def sessionizeQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.sessionize(events(dir).load(s).select("user_id", "ts"),
      "user_id", "ts", gapSeconds = 1800L)

  /** The streaming EWMA monitor's read path: daily per-type state
    * partials (the incremental-store shape the exactly-once sink
    * maintains) merged and folded — identical numbers to ewma_chart,
    * state-table-sized work.
    */
  private def ewmaFromStateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .withColumn("v_micro",
        floor(col("value").cast("double") * 1000000L).cast("long"))
    val state = ops.Incremental.dailyState(
      ev, Seq("event_type"), "ts", "v_micro")
    ops.Stats.ewmaFromDailyState(state, Seq("event_type"), 300000L)
  }

  /** Holt level+trend over the persisted daily-state shape — the
    * ewma_from_state read path with the forecasting recurrence: the
    * monitor's cost follows the state table, never the stream.
    */
  private def holtFromStateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .withColumn("v_micro",
        floor(col("value").cast("double") * 1000000L).cast("long"))
    val state = ops.Incremental.dailyState(
      ev, Seq("event_type"), "ts", "v_micro")
    ops.Stats.holtFromDailyState(state, Seq("event_type"), 300000L, 100000L)
  }

  /** Holt–Winters over the persisted daily-state shape — the
    * holt_from_state read path with the weekly seasonal recurrence: the
    * monitor's cost follows the state table, never the stream, and the
    * seasonal index array is part of the fold, not extra state rows.
    */
  private def holtWintersFromStateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .withColumn("v_micro",
        floor(col("value").cast("double") * 1000000L).cast("long"))
    val state = ops.Incremental.dailyState(
      ev, Seq("event_type"), "ts", "v_micro")
    ops.Stats.holtWintersFromDailyState(state, Seq("event_type"),
      period = 7, 300000L, 100000L, 300000L)
  }

  /** Weekly user-value quintile mobility: do the same users stay in the
    * top spend quintile week over week, or does the head churn?
    */
  private def rankMobilityQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.rankMobility(
      events(dir).load(s)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("value"),
          call_function("div", unix_micros(col("ts")),
            lit(7L * 86400000000L)).as("week")),
      "user_id", "week", "value", k = 5)

  /** Ordered 3-event behavior patterns per user with distinct-user
    * support — basket rules' sequential sibling over the event stream.
    */
  private def sequencePatternsQ(s: SparkSession, dir: String): DataFrame =
    ops.Affinity.sequencePatterns(
      events(dir).load(s).select("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", k = 3, minSupport = 2L,
      maxSeqLen = 512)

  /** Daily-bucket autocorrelation at lags 1..7 per event type — the
    * periodicity detector that tells seasonal_anomaly its period.
    */
  private def autocorrelationQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.autocorrelation(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L,
      lags = Seq(1, 2, 3, 4, 5, 6, 7))

  /** Lead/lag cross-correlation between every ordered event-type pair
    * over daily value buckets — does signup volume lead purchase volume?
    */
  private def crossCorrelationQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.crossCorrelation(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L,
      lags = Seq(0, 1, 2, 3))

  /** Exact DAU/WAU/MAU engagement panel over the events stream. */
  private def activeUsersQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.activeUsers(
      events(dir).load(s).select("user_id", "ts"), "user_id", "ts")
      .withColumn("day_us", unix_micros(col("day")))
      .drop("day")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_parquet" -> (sourceParquet _),
    "source_csv_roundtrip" -> (sourceCsvRoundtrip _),
    "source_json_roundtrip" -> (sourceJsonRoundtrip _),
    "source_query" -> (sourceQuery _),
    "source_field_mapping" -> (sourceFieldMapping _),
    "schema_events" -> (schemaEvents _),
    "pull_all_events" -> (pullAllEvents _),
    "pull_latest_events" -> (pullLatestEvents _),
    "pull_latest_ties" -> (pullLatestTies _),
    "online_store_latest" -> (onlineStoreLatestQ _),
    "pit_join" -> (pitJoin _),
    "pit_staleness" -> (pitStalenessQ _),
    "pit_join_created" -> (pitJoinCreated _),
    "pit_join_multi" -> (pitJoinMulti _),
    "dedup_exact" -> (dedupExact _),
    "pipeline_clean_corpus" -> (pipelineCleanCorpus _),
    "pipeline_feature_serve" -> (pipelineFeatureServe _),
    "dedup_minhash" -> (dedupMinhash _),
    "set_similarity_join" -> (setSimJoin _),
    "cosine_set_join" -> (cosineSetJoinQ _),
    "containment_join" -> (containmentJoinQ _),
    "quality_panel" -> (qualityPanelQ _),
    "dq_history" -> (dqHistoryQ _),
    "search_bm25" -> (searchBm25Q _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_ls" -> (dedupClustersLs _),
    "pipeline_canonicalize" -> (pipelineCanonicalize _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_semantic_against" -> (dedupSemanticAgainstQ _),
    "knn_brute" -> (knnBrute _),
    "knn_lsh" -> (knnLsh _),
    "knn_ivf" -> (knnIvf _),
    "knn_pq" -> (knnPq _),
    "search_rrf_fusion" -> (searchRrfFusion _),
    "search_eval" -> (searchEval _),
    "text_stats" -> (textStats _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangid _),
    "lang_mix" -> (langMixQ _),
    "text_langid_model" -> (textLangidModel _),
    "doc_fingerprint" -> (docFingerprint _),
    "pack_sequences" -> (packSequences _),
    "ngram_stats" -> (ngramStats _),
    "bpe_merges" -> (bpeMerges _),
    "unigram_vocab" -> (unigramVocabQ _),
    "unigram_encode" -> (unigramEncodeQ _),
    "bpe_merges_bytes" -> (bpeMergesBytes _),
    "lm_score" -> (lmScoreQ _),
    "bpe_encode" -> (bpeEncodeQ _),
    "wordpiece_merges" -> (wordPieceMergesQ _),
    "wordpiece_encode" -> (wordPieceEncodeQ _),
    "bpe_encode_bytes" -> (bpeEncodeBytesQ _),
    "pipeline_cluster_shard" -> (pipelineClusterShard _),
    "pipeline_text_pack" -> (pipelineTextPack _),
    "pipeline_quality_mix" -> (pipelineQualityMix _),
    "multimodal_meta" -> (multimodalMeta _),
    "image_stats" -> (imageStats _),
    "image_neardup" -> (imageNearDupQ _),
    "pipeline_image_dedup" -> (pipelineImageDedupQ _),
    "video_neardup" -> (videoNearDupQ _),
    "audio_neardup" -> (audioNearDupQ _),
    "audio_stats" -> (audioStats _),
    "video_stats" -> (videoStats _),
    "events_json_extract" -> (eventsJsonExtract _),
    "events_windowed" -> (eventsWindowed _),
    "events_topk_windowed" -> (eventsTopkWindowed _),
    "events_sessions" -> (eventsSessions _),
    "rolling_features" -> (rollingFeatures _),
    "decayed_features" -> (decayedFeatures _),
    "column_correlations" -> (columnCorrelations _),
    "spearman_correlations" -> (spearmanCorrelationsQ _),
    "spearman_pairwise" -> (spearmanPairwiseQ _),
    "kendall_tau" -> (kendallTauQ _),
    "embedding_mean_pool" -> (embeddingMeanPool _),
    "split_buckets" -> (splitBucketsQuery _),
    "split_exact" -> (splitExactQ _),
    "dsir_select" -> (dsirSelect _),
    "select_budget" -> (selectBudgetQ _),
    "event_attribution" -> (eventAttribution _),
    "text_pii_redact" -> (textPiiRedact _),
    "text_pii_redact_v2" -> (textPiiRedactV2 _),
    "sample_hash" -> (sampleHash _),
    "skew_salted_join" -> (skewSaltedJoinQ _),
    "planned_join" -> (plannedJoinQ _),
    "filter_blocklist" -> (filterBlocklist _),
    "corpus_quantiles" -> (corpusQuantiles _),
    "quantile_sketch" -> (quantileSketchQ _),
    "decontaminate" -> (decontaminateCorpus _),
    "sample_stratified" -> (sampleStratified _),
    "shard_layout" -> (shardLayout _),
    "cap_per_group" -> (capPerGroupQuery _),
    "chunk_documents" -> (chunkDocs _),
    "top_ngram_stats" -> (topNgram _),
    "dedup_against" -> (dedupAgainstSnapshot _),
    "dedup_segments" -> (dedupSegmentsQuery _),
    "dedup_within_doc" -> (dedupWithinDocQuery _),
    "dedup_windows" -> (dedupWindowsQuery _),
    "cdc_dup_chunks" -> (cdcDupChunksQ _),
    "cdc_dedup_against" -> (cdcDedupAgainstQ _),
    "dedup_windows_against" -> (dedupWindowsAgainstQuery _),
    "dedup_minhash_against" -> (dedupMinhashAgainst _),
    "dedup_minhash_store" -> (dedupMinhashStoreQ _),
    "domain_caps" -> (domainCapsQuery _),
    "url_canonicalize" -> (urlCanonicalizeQuery _),
    "pipeline_substring_dedup" -> (pipelineSubstringDedup _),
    "strip_boilerplate" -> (stripBoilerplateQuery _),
    "rare_token_stats" -> (rareTokens _),
    "asof_join" -> (asofJoinQuery _),
    "scd2_intervals" -> (scd2Intervals _),
    "categorical_drift" -> (categoricalDriftQuery _),
    "numeric_drift" -> (numericDriftQuery _),
    "equi_depth_bins" -> (equiDepthBinsQuery _),
    "interval_join" -> (intervalJoinQuery _),
    "interval_overlap_join" -> (intervalOverlapQ _),
    "interval_flatten" -> (intervalFlattenQ _),
    "resample_ffill" -> (resampleFfillQ _),
    "entity_resolution" -> (entityResolutionQ _),
    "time_weighted_avg" -> (timeWeightedAvgQ _),
    "entity_resolution_against" -> (entityResolutionAgainstQ _),
    "pipeline_panel_anomaly" -> (pipelinePanelAnomalyQ _),
    "er_sorted_pairs" -> (erSortedPairsQ _),
    "er_eval" -> (erEvalQ _),
    "er_eval_fs" -> (erEvalFsQ _),
    "entity_resolution_against_fs" -> (entityResolutionAgainstFsQ _),
    "embedding_quantize" -> (embeddingQuantize _),
    "embedding_normalize" -> (embeddingNormalize _),
    "embedding_project" -> (embeddingProject _),
    "text_normalize" -> (textNormalize _),
    "extract_html" -> (extractHtmlQuery _),
    "filter_lines" -> (filterLinesQuery _),
    "filter_gopher" -> (filterGopherQuery _),
    "pipeline_crawl_clean" -> (pipelineCrawlClean _),
    "pipeline_crawl_full" -> (pipelineCrawlFull _),
    "inverted_index" -> (invertedIndexQuery _),
    "cooccurrence" -> (cooccurrenceQuery _),
    "mix_corpora" -> (mixCorporaQuery _),
    "mix_temperature" -> (mixTemperatureQuery _),
    "page_rank" -> (pageRankQuery _),
    "page_rank_dangling" -> (pageRankDanglingQuery _),
    "graph_communities" -> (graphCommunitiesQ _),
    "graph_neighborhood" -> (graphNeighborhoodQ _),
    "graph_harmonic" -> (graphHarmonicQ _),
    "graph_kcore" -> (kCoreQ _),
    "triangle_count" -> (triangleCountQ _),
    "top_terms" -> (topTermsQuery _),
    "source_orc_roundtrip" -> (sourceOrcRoundtrip _),
    "source_avro_roundtrip" -> (sourceAvroRoundtrip _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_orders" -> (q3TopOrders _),
    "top_events_per_user" -> (topEventsPerUser _),
    "cms_counts" -> (cmsCounts _),
    "cms_join_size" -> (cmsJoinSizeQuery _),
    "hll_registers" -> (hllRegistersQuery _),
    "hll_merge" -> (hllMergeQuery _),
    "vocab_coverage" -> (vocabCoverageQuery _),
    "pmi_pairs" -> (pmiPairsQuery _),
    "snapshot_diff" -> (snapshotDiffQuery _),
    "sample_priority" -> (samplePriority _),
    "sample_weighted" -> (sampleWeighted _),
    "sample_weighted_grouped" -> (sampleWeightedPerGroup _),
    "hll_windowed" -> (hllWindowed _),
    "value_histogram" -> (valueHistogram _),
    "event_funnel" -> (eventFunnel _),
    "event_funnel_stats" -> (eventFunnelStats _),
    "eval_auc" -> (evalAucQ _),
    "event_transitions" -> (eventTransitions _),
    "event_paths" -> (eventPaths _),
    "events_pivot" -> (eventsPivot _),
    "events_rollup" -> (eventsRollup _),
    "events_cube" -> (eventsCube _),
    "target_encode" -> (targetEncodeQuery _),
    "feature_hash" -> (featureHashQuery _),
    "incremental_agg" -> (incrementalAgg _),
    "feature_standardize" -> (featureStandardize _),
    "key_skew_profile" -> (keySkewQuery _),
    "feature_minmax" -> (featureMinMax _),
    "feature_robust" -> (featureRobust _),
    "feature_winsorize" -> (featureWinsorize _),
    "feature_percent_rank" -> (featurePercentRank _),
    "bloom_semi_join" -> (bloomSemiJoinQuery _),
    "value_outliers" -> (valueOutliers _),
    "event_type_pivot" -> (eventTypePivot _),
    "q1_rollup" -> (q1Rollup _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "cohort_retention" -> (cohortRetentionQuery _),
    "cohort_ltv" -> (cohortLtvQuery _),
    "vocab_overlap" -> (vocabOverlapQ _),
    "vocab_novelty" -> (vocabNoveltyQ _),
    "table_profile" -> (tableProfile _),
    "corpus_report" -> (corpusReportQ _),
    "tokenize_ids" -> (tokenizeIds _),
    "decode_ids" -> (decodeIdsQ _),
    "kmeans_clusters" -> (kmeansClusters _),
    "kmeans_sample_train" -> (kmeansSampleTrain _),
    "basket_rules" -> (basketRulesQ _),
    "kmv_distinct" -> (kmvDistinctQ _),
    "kmv_jaccard" -> (kmvJaccardQ _),
    "ks_test" -> (ksTestQ _),
    "eval_pr" -> (evalPrQ _),
    "cusum_change" -> (cusumChangeQ _),
    "active_users" -> (activeUsersQ _),
    "edit_distance_join" -> (editDistanceJoinQ _),
    "chi_square" -> (chiSquareQ _),
    "gini_gain" -> (giniGainQ _),
    "link_predict" -> (linkPredictQ _),
    "eval_calibration" -> (calibrationQ _),
    "seasonal_anomaly" -> (seasonalAnomalyQ _),
    "nearest_join" -> (nearestJoinQ _),
    "personalized_pagerank" -> (personalizedPageRankQ _),
    "mad_outliers" -> (madOutliersQ _),
    "interval_intersect" -> (intervalIntersectQ _),
    "activity_gaps" -> (activityGapsQ _),
    "interarrival_stats" -> (interarrivalStatsQ _),
    "k_anonymity" -> (kAnonymityQ _),
    "fd_check" -> (fdCheckQ _),
    "trend_lines" -> (trendLinesQ _),
    "attribution_position" -> (positionAttributionQ _),
    "emd_drift" -> (emdDriftQ _),
    "rank_sum_test" -> (rankSumQ _),
    "concentration" -> (concentrationQ _),
    "pareto_front" -> (paretoFrontQ _),
    "graph_assortativity" -> (graphAssortativityQ _),
    "kaplan_meier" -> (kaplanMeierQ _),
    "bipartite_project" -> (bipartiteProjectQ _),
    "ewma_chart" -> (ewmaChartQ _),
    "holt_chart" -> (holtChartQ _),
    "holt_winters" -> (holtWintersQ _),
    "holt_winters_from_state" -> (holtWintersFromStateQ _),
    "theil_sen" -> (theilSenQ _),
    "sessionize" -> (sessionizeQ _),
    "rank_mobility" -> (rankMobilityQ _),
    "ewma_from_state" -> (ewmaFromStateQ _),
    "holt_from_state" -> (holtFromStateQ _),
    "cross_correlation" -> (crossCorrelationQ _),
    "benford_audit" -> (benfordAuditQ _),
    "sequence_patterns" -> (sequencePatternsQ _),
    "autocorrelation" -> (autocorrelationQ _),
  )

  /** DuckDB twin per SQL-expressible key (driver compares on sf0.01). */
  lazy val oracleSql: Map[String, String] = {
    // Shared TVD-drift chain, continuing from an `m(column, value, ts_us)`
    // melt CTE: per-side counts split at Jan 15, full-outer category join,
    // per-column totals via window, exact decimal numerator, one final
    // decimal→double division. ONE definition serves both drift oracles
    // (categorical_drift / numeric_drift) so the replays cannot drift.
    val tvdChainSql =
      """cb AS (SELECT "column", value, count(*) AS c_base FROM m
        |  WHERE ts_us < 1705276800000000 GROUP BY 1, 2),
        |cc AS (SELECT "column", value, count(*) AS c_cur FROM m
        |  WHERE ts_us >= 1705276800000000 GROUP BY 1, 2),
        |j AS (SELECT coalesce(cb."column", cc."column") AS "column",
        |    coalesce(cb.value, cc.value) AS value,
        |    coalesce(c_base, 0) AS c_base, coalesce(c_cur, 0) AS c_cur
        |  FROM cb FULL OUTER JOIN cc
        |    ON cb."column" = cc."column" AND cb.value = cc.value),
        |t AS (SELECT "column", c_base, c_cur,
        |  sum(c_base) OVER (PARTITION BY "column") AS n_base,
        |  sum(c_cur) OVER (PARTITION BY "column") AS n_cur FROM j)
        |SELECT "column",
        |  CAST(max(n_base) AS BIGINT) AS n_base,
        |  CAST(max(n_cur) AS BIGINT) AS n_current,
        |  count(*) AS n_categories,
        |  round(CAST(sum(abs(
        |      CAST(c_base AS DECIMAL(38,0)) * CAST(n_cur AS DECIMAL(38,0)) -
        |      CAST(c_cur AS DECIMAL(38,0)) * CAST(n_base AS DECIMAL(38,0))))
        |    AS DOUBLE) / (2.0 * CAST(max(n_base) AS DOUBLE)
        |      * CAST(max(n_cur) AS DOUBLE)), 6) AS tvd
        |FROM t GROUP BY "column"""".stripMargin
    val entCte =
      s"""ent AS (SELECT DISTINCT user_id,
         |  $PitBaseUs + (user_id % 20) * $DayUs AS ent_us FROM events)""".stripMargin
    val evCte =
      """ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value, event_type
        |FROM events)""".stripMargin
    // tokenization CTE over ANY (doc_id, text) source — the capstone reuses
    // it over its stage outputs, documents-based oracles over the table
    def toksCteFrom(src: String): String =
      s"""t AS (SELECT doc_id, text,
         |list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
         |FROM $src)""".stripMargin
    val toksCte = toksCteFrom("documents")
    // per-source KMV bottom-256 registers over the distinct-token universe;
    // shared by kmv_distinct and kmv_jaccard (one definition, no drift)
    val KmvRegCtes =
      """tk AS MATERIALIZED (SELECT source,
        |  unnest(list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0))) AS tok
        |  FROM documents),
        |hv AS MATERIALIZED (SELECT DISTINCT source,
        |  CAST(concat('0x', substr(md5(concat('kmv:', tok)), 1, 15)) AS BIGINT)
        |    AS kmv_h FROM tk),
        |rk AS MATERIALIZED (SELECT source, kmv_h, row_number() OVER (
        |  PARTITION BY source ORDER BY kmv_h) AS r FROM hv),
        |reg AS MATERIALIZED (SELECT source, kmv_h FROM rk WHERE r <= 256)""".stripMargin
    // planted corpus + tokenization, shared by all three window-dedup
    // oracles (one definition so the replays cannot drift)
    // the image dHash populations (base + re-encoded + resized twins,
    // corrupt originals excluded) replayed arithmetically from the
    // closed-form pixels; ends in CTE `sig` (id, sig) — shared by
    // image_neardup and pipeline_image_dedup so the replays cannot drift
    val imageHashCtes =
      """pop AS (
        |  SELECT doc_id AS id, doc_id AS src,
        |    CAST(doc_id % 16 + 8 AS BIGINT) AS w, CAST(doc_id % 12 + 8 AS BIGINT) AS h,
        |    CAST(doc_id % 16 + 8 AS BIGINT) AS w0, CAST(doc_id % 12 + 8 AS BIGINT) AS h0
        |  FROM documents WHERE doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id,
        |    doc_id % 16 + 8, doc_id % 12 + 8, doc_id % 16 + 8, doc_id % 12 + 8
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000000, doc_id,
        |    doc_id % 16 + 12, doc_id % 12 + 10, doc_id % 16 + 8, doc_id % 12 + 8
        |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
        |g AS (SELECT id, src, gx.range AS gx, gy.range AS gy,
        |    ((gx.range * w) // 9) * w0 // w AS sx,
        |    ((gy.range * h) // 8) * h0 // h AS sy
        |  FROM pop, range(0, 9) gx, range(0, 8) gy),
        |lum AS (SELECT id, gx, gy,
        |    (77 * ((((sx * 2654435761 + sy * 40503001 + 11) % 65536) *
        |      ((src * 1099087573) % 65521 + 3) // 256) % 256)
        |   + 150 * ((((sx * 2246822519 + sy * 2654435761 + 7) % 65536) *
        |      ((src * 97002721) % 65521 + 5) // 256) % 256)
        |   + 29 * ((((sx * 3266489917 + sy * 97002721 + 13) % 65536) *
        |      ((src * 2246822519) % 65521 + 7) // 256) % 256)) // 256 AS lum
        |  FROM g),
        |sig AS (SELECT a.id,
        |    CAST(sum(CASE WHEN b.lum > a.lum THEN
        |      CASE WHEN a.gy * 8 + a.gx = 63 THEN (-9223372036854775807 - 1)
        |           ELSE (1::BIGINT << CAST(a.gy * 8 + a.gx AS INT)) END
        |      ELSE 0 END) AS BIGINT) AS sig
        |  FROM lum a JOIN lum b ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 GROUP BY 1)""".stripMargin
    // PIT pick + decayed recency + SCD2 history fragments, each shared
    // VERBATIM by its standalone oracle (pit_join / decayed_features /
    // scd2_intervals) and by the composed pipeline_feature_serve — one
    // definition so the serving replay cannot drift from the parts
    val pitCtes =
      s"""base AS (
         |  SELECT e.user_id, e.ent_us, v.ts_us, v.event_id, v.value, v.event_type
         |  FROM ent e JOIN ev v ON v.user_id = e.user_id
         |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
         |best AS (
         |  SELECT user_id, ent_us, value, event_type FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
         |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM base)
         |  WHERE rn = 1),
         |pit AS (
         |  SELECT e.user_id, e.ent_us, b.value AS feat_value,
         |         b.event_type AS feat_event_type
         |  FROM ent e LEFT JOIN best b
         |    ON e.user_id = b.user_id AND e.ent_us = b.ent_us)""".stripMargin
    val decayedCtes =
      """de AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
        |dk AS (SELECT user_id, v,
        |    CAST((1706659200000000 - ts_us) // 21600000000 AS INT) AS k
        |  FROM de WHERE ts_us <= 1706659200000000),
        |rec AS (SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(CAST(v AS DECIMAL(38,0)) *
        |      CAST(power(2, 40 - k) AS DECIMAL(38,0))) AS DOUBLE)
        |    / 1099511627776.0, 6) AS decayed_sum
        |  FROM dk WHERE k < 40 GROUP BY user_id)""".stripMargin
    val scd2Ctes =
      """sev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |sdd AS (SELECT user_id, ts_us, max(event_type) AS v
        |  FROM sev GROUP BY user_id, ts_us),
        |slg AS (SELECT user_id, ts_us, v,
        |  lag(v) OVER (PARTITION BY user_id ORDER BY ts_us) AS pv FROM sdd),
        |sch AS (SELECT user_id, ts_us, v FROM slg WHERE pv IS NULL OR v != pv),
        |scd AS (SELECT user_id, v AS event_type, ts_us AS valid_from_us,
        |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS valid_to_us
        |  FROM sch)""".stripMargin
    val plantedToksCtes =
      (s"""d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN text || ' ' ||
         |    repeat('pad ', CAST(doc_id % 5 AS INT)) || ' $PlantedRun'
         |  ELSE text END AS text FROM documents),
         |wt AS (SELECT doc_id,
         |""".stripMargin +
        """  list_filter(string_split_regex(lower(trim(text)), '\s+'),
         |    x -> len(x) > 0) AS toks FROM d),
         |sz AS (SELECT doc_id, toks, coalesce(len(toks), 0) AS n FROM wt)""".stripMargin)
    // line-filter replay (the docsWithLines synthesis + the three C4
    // rules), shared by filter_lines and pipeline_crawl_clean; ends in
    // CTE `lf` (doc_id, text_kept, n_lines, n_kept)
    // the synthetic-line planting + C4 line filter, reading the `t` CTE
    // (doc_id, text, toks) — shared by filter_lines, pipeline_crawl_clean,
    // and the crawl-full capstone (which feeds its own `t`)
    val lineFilterChain =
      (s"""ex AS (SELECT doc_id, unnest(toks) AS tok,
         |  generate_subscripts(toks, 1) AS p FROM t),
         |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
         |  string_agg(tok, ' ' ORDER BY p) ||
         |    CASE WHEN (doc_id + CAST((p - 1) // 12 AS INT)) % 3 <> 0
         |      THEN '.' ELSE '' END AS line
         |  FROM ex GROUP BY doc_id, (p - 1) // 12),
         |withb AS (
         |  SELECT doc_id, -1 AS pos,
         |    'please enable javascript and accept our cookie policy.' AS line
         |  FROM t WHERE doc_id % 4 = 0 AND len(toks) > 0
         |  UNION ALL SELECT doc_id, pos, line FROM segs),
         |""".stripMargin +
        """kept AS (SELECT doc_id, pos, line FROM withb
         |  WHERE len(list_filter(string_split_regex(trim(line), '\s+'),
         |      x -> len(x) > 0)) >= 3
         |    AND right(trim(line), 1) IN ('.', '!', '?', '"')
         |    AND NOT contains(lower(line), 'javascript')
         |    AND NOT contains(lower(line), 'lorem ipsum')
         |    AND NOT contains(lower(line), '{')),
         |lagg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_kept,
         |  count(*) AS n_kept FROM kept GROUP BY doc_id),
         |nl AS (SELECT doc_id, count(*) AS n_lines FROM withb GROUP BY doc_id),
         |lf AS (SELECT t.doc_id, coalesce(lagg.text_kept, '') AS text_kept,
         |  CAST(coalesce(nl.n_lines, 0) AS BIGINT) AS n_lines,
         |  CAST(coalesce(lagg.n_kept, 0) AS BIGINT) AS n_kept
         |FROM t LEFT JOIN nl USING (doc_id) LEFT JOIN lagg USING (doc_id))""".stripMargin)
    val lineFilterCtes = toksCte + ",\n" + lineFilterChain
    def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val allStops = sqlList(TextAnalysis.stopwords.values.flatten.toSeq.distinct)
    // the synthetic HTML wrapper + extraction chain over ANY (doc_id, text)
    // source — ends in CTE `f` (doc_id, text_extracted); shared by
    // extract_html and the crawl-full capstone
    def htmlExtractCtes(src: String): String =
      s"""h AS (SELECT doc_id,
         |  '<html><head><title>t</title><style>body { color: red; }</style>' ||
         |  '<script>var x = 1 && 2;</script><!-- hidden --></head>' ||
         |  '<body><p id="a">' || text ||
         |  '</p><br/><div class="f">Tom &amp; Jerry &lt;3 &quot;q&quot; ' ||
         |  '&#39;s&#39; &amp;lt; x&nbsp;y</div></body></html>' AS html
         |  FROM $src),
         |a1 AS (SELECT doc_id,
         |  regexp_replace(html, '(?is)<script.*?</script>', ' ', 'g') AS t FROM h),
         |a2 AS (SELECT doc_id,
         |  regexp_replace(t, '(?is)<style.*?</style>', ' ', 'g') AS t FROM a1),
         |a3 AS (SELECT doc_id,
         |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM a2),
         |a4 AS (SELECT doc_id,
         |  regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM a3),
         |a5 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
         |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |  '&nbsp;', ' '), '&amp;', '&') AS t FROM a4),
         |f AS (SELECT doc_id,
         |  coalesce(trim(regexp_replace(t, '\\s+', ' ', 'g')), '') AS text_extracted
         |  FROM a5)""".stripMargin
    // Gopher gate — the filter_gopher oracle thresholds and stats chain,
    // shared verbatim with the crawl-full capstone. The chain reads ANY
    // (doc_id, text) CTE; lines derive by the operator's own rule (split on
    // \n, drop blank-trim lines). Ends in CTE `gc`.
    val gWordsOk = "n_words >= 30 AND n_words <= 500"
    val gMeanOk =
      "n_word_chars * 100 >= 300 * n_words AND n_word_chars * 100 <= 1000 * n_words"
    val gAlphaOk = "n_alpha_words * 100 >= 80 * n_words"
    val gSymbolOk = "n_symbols * 100 <= 2 * n_words"
    val gBulletOk = "n_bullet_lines * 100 <= 15 * n_lines"
    val gEllipsisOk = "n_ellipsis_lines * 100 <= 20 * n_lines"
    val gDupOk = "(n_lines - n_distinct_lines) * 100 <= 10 * n_lines"
    val gStopOk = "n_stopword_hits >= 2"
    val gKeepCond =
      s"($gWordsOk) AND ($gMeanOk) AND ($gAlphaOk) AND ($gSymbolOk) AND " +
        s"($gBulletOk) AND ($gEllipsisOk) AND ($gDupOk) AND ($gStopOk)"
    def gopherChain(docSrc: String): String =
      s"""gl AS (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
         |    x -> len(trim(x)) > 0)) AS line FROM $docSrc),
         |gtk AS (SELECT doc_id, text,
         |  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0) AS toks2 FROM $docSrc),
         |gwc AS (SELECT doc_id, len(toks2) AS n_words,
         |  coalesce(list_sum(list_transform(toks2, x -> len(x))), 0) AS n_word_chars,
         |  len(list_filter(toks2, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
         |  len(list_filter(toks2, x -> list_contains($allStops, x))) AS n_stopword_hits,
         |  (len(text) - len(replace(text, '#', ''))) +
         |    (len(text) - len(replace(text, '…', ''))) +
         |    (len(text) - len(replace(text, '...', ''))) // 3 AS n_symbols
         |  FROM gtk),
         |glc AS (SELECT doc_id, count(*) AS n_lines,
         |  count(DISTINCT line) AS n_distinct_lines,
         |  count(*) FILTER (WHERE left(ltrim(line), 1) IN ('-', '*', '•'))
         |    AS n_bullet_lines,
         |  count(*) FILTER (WHERE right(rtrim(line), 3) = '...'
         |    OR right(rtrim(line), 1) = '…') AS n_ellipsis_lines
         |  FROM gl GROUP BY doc_id),
         |gc AS (SELECT gwc.doc_id, n_words, n_word_chars, n_alpha_words,
         |  n_stopword_hits, coalesce(n_lines, 0) AS n_lines,
         |  coalesce(n_distinct_lines, 0) AS n_distinct_lines,
         |  coalesce(n_bullet_lines, 0) AS n_bullet_lines,
         |  coalesce(n_ellipsis_lines, 0) AS n_ellipsis_lines, n_symbols
         |  FROM gwc LEFT JOIN glc USING (doc_id))""".stripMargin
    // MinHash-canonicalize replay over ANY (doc_id, text) CTE: all-pairs
    // shingle-Jaccard ground truth → transitive closure → (quality desc, id)
    // argmax. Requires WITH RECURSIVE. Ends in CTEs `ccl` (id, cluster) and
    // `cjq` (id, quality_score). Shared by pipeline_canonicalize (planted
    // corpus) and the crawl-full capstone (cleaned corpus).
    def canonicalizeCtes(docSrc: String): String =
      s"""ct AS (SELECT doc_id, text,
         |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
         |  FROM $docSrc),
         |csh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
         |    WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [array_to_string(toks, ' ')] END) AS sh
         |  FROM ct),
         |ce AS (SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM csh a JOIN csh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.8),
         |cedges AS (SELECT a, b FROM ce UNION ALL SELECT b, a FROM ce),
         |creach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM ct
         |  UNION
         |  SELECT r.src, ed.b FROM creach r JOIN cedges ed ON r.dst = ed.a),
         |ccl AS (SELECT src AS id, min(dst) AS cluster FROM creach GROUP BY src),
         |ccnt AS (SELECT doc_id, text, len(toks) AS n_tokens,
         |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
         |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         |  len(list_distinct(toks)) AS n_distinct_tokens,
         |  length(text) AS n_chars FROM ct),
         |cjq AS (SELECT doc_id AS id, round(
         |    least(n_tokens / 20.0, 1.0) * 0.25 +
         |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
         |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
         |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
         |    6) AS quality_score FROM ccnt)""".stripMargin
    // substring-window dedup replay, shared by dedup_windows and
    // pipeline_substring_dedup: slide → first-occurrence arg-min →
    // interval reassembly, ending in CTE `fin`
    val windowDedupCtes = plantedToksCtes + "," +
      ("""
         |st AS (SELECT doc_id, n, unnest(
         |  CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
         |       WHEN n <= 12 THEN [CAST(0 AS BIGINT)]
         |       ELSE list_distinct(list_append(range(0, n - 11, 6),
         |         CAST(n - 12 AS BIGINT))) END) AS p FROM sz),
         |w AS (SELECT st.doc_id, st.p, least(12, st.n) AS wlen,
         |  array_to_string(sz.toks[st.p + 1 : st.p + least(12, st.n)], ' ') AS wtext
         |  FROM st JOIN sz USING (doc_id)),
         |rn AS (SELECT doc_id, p, wlen,
         |  row_number() OVER (PARTITION BY wtext ORDER BY doc_id, p) AS rn FROM w),
         |alive AS (SELECT doc_id, p, wlen FROM rn WHERE rn = 1),
         |iv AS (SELECT doc_id, unnest(range(p, p + wlen)) AS i FROM alive),
         |ki AS (SELECT DISTINCT doc_id, i FROM iv),
         |kept AS (SELECT ki.doc_id, ki.i, sz.toks[CAST(ki.i AS INT) + 1] AS tok
         |  FROM ki JOIN sz USING (doc_id)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_dedup,
         |  count(*) AS n_kept FROM kept GROUP BY doc_id),
         |fin AS (SELECT sz.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
         |  CAST(sz.n AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
         |FROM sz LEFT JOIN agg USING (doc_id))""".stripMargin)
    // positional token stream + top-30 vocab (count desc, token asc) —
    // shared by tokenize_ids and decode_ids, one definition so the two
    // oracles cannot drift (the Spark side shares top30Vocab the same way)
    val vocabCtes =
      """pos AS (SELECT doc_id, unnest(toks) AS token,
        |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
        |kc AS (SELECT token, count(*) AS cnt FROM pos GROUP BY token),
        |vocab AS (SELECT token,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INTEGER) AS token_id
        |  FROM kc ORDER BY cnt DESC, token LIMIT 30)""".stripMargin
    // bigram-LM train+score CTE chain ending in per-doc integer
    // (n_bigrams, score_sum) — shared by lm_score and pipeline_quality_mix
    val lmCtes =
      """tp AS (SELECT unnest(list_transform(range(1, len(toks)),
        |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM t),
        |pc AS (SELECT pair, count(*) AS c_pair,
        |  string_split(pair, ' ')[1] AS w1 FROM tp GROUP BY pair),
        |pfx AS (SELECT w1, CAST(sum(c_pair) AS BIGINT) AS c_prefix
        |  FROM pc GROUP BY w1),
        |pt AS (SELECT pair, c_pair FROM pc WHERE c_pair >= 2),
        |vs AS (SELECT greatest(count(DISTINCT tok), 1) AS v
        |  FROM (SELECT unnest(toks) AS tok FROM t)),
        |dp AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |  i -> struct_pack(pair := toks[i] || ' ' || toks[i+1], w1 := toks[i]))) AS p
        |  FROM t),
        |sq AS (SELECT dp.doc_id,
        |    CAST(((coalesce(pt.c_pair, 0) + 1) * 1048576)
        |      // (coalesce(pfx.c_prefix, 0) + vs.v) AS BIGINT) AS q
        |  FROM dp LEFT JOIN pt ON pt.pair = dp.p.pair
        |    LEFT JOIN pfx ON pfx.w1 = dp.p.w1, vs),
        |lmagg AS (SELECT d.doc_id, CAST(count(sq.q) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(sum(sq.q), 0) AS BIGINT) AS score_sum
        |  FROM documents d LEFT JOIN sq USING (doc_id) GROUP BY d.doc_id)""".stripMargin
    // shared deterministic-Lloyd training CTEs (knn_ivf + kmeans_clusters +
    // kmeans_sample_train): c = corpus, ct = train set (md5-bucket sample of
    // c when trainPercent < 100 — the Sampling.hashSample rule), cent_0 =
    // lowest-id seeds from ct, a_i/cent_i = assign/refine rounds over ct,
    // afinal = final assignment of EVERY vector
    def ivfDist2(v: String, cv: String) =
      s"list_dot_product($v, $v) - 2 * list_dot_product($v, $cv) + list_dot_product($cv, $cv)"
    // `prefix` namespaces every CTE (c/ct/cent_i/a_i/afinal → ${p}c/...), so
    // the chain can be instantiated once PER PQ SUBSPACE in one WITH clause
    def ivfTrainCtes(numCells: Int, lloydIters: Int, trainPercent: Int = 100,
        corpusSql: String =
          "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
        prefix: String = ""): String = {
      val p = prefix
      def assign(i: Int, src: String) =
        s"""${p}a_$i AS (SELECT id, v, cell FROM (
           |  SELECT c.id, c.v, t.cell, row_number() OVER (PARTITION BY c.id
           |    ORDER BY ${ivfDist2("c.v", "t.cv")}, t.cell) AS rn
           |  FROM $src c CROSS JOIN ${p}cent_${i - 1} t) WHERE rn = 1)""".stripMargin
      def refine(i: Int) =
        s"""${p}cent_$i AS (SELECT cell, list(m ORDER BY pos) AS cv FROM (
           |  SELECT cell, pos,
           |    CAST(sum(CAST(round(x * 1048576) AS BIGINT)) AS DOUBLE) / count(*) / 1048576.0 AS m
           |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM ${p}a_$i)
           |  GROUP BY cell, pos) GROUP BY cell)""".stripMargin
      val trainFilter =
        if (trainPercent >= 100) ""
        else
          s""" WHERE CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 6)) AS BIGINT)
             |   % 100 < $trainPercent""".stripMargin
      val iters = (1 to lloydIters).map(i => s"${assign(i, s"${p}ct")},\n${refine(i)}").mkString(",\n")
      s"""${p}c AS ($corpusSql),
         |${p}ct AS (SELECT id, v FROM ${p}c$trainFilter),
         |${p}cent_0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cv
         |           FROM (SELECT id, v FROM ${p}ct ORDER BY id LIMIT $numCells)),
         |$iters,
         |${assign(lloydIters + 1, s"${p}c").replace(s"${p}a_${lloydIters + 1}", s"${p}afinal")}""".stripMargin
    }
    // BPE trainer replay (bpe_merges): words_k carries each vocabulary word
    // as a \x01tok\x02-wrapped symbol string, so DuckDB's left-to-right
    // non-overlapping replace() IS the greedy leftmost merge apply; per rank,
    // p_k counts adjacent pairs weighted by word frequency, m_k picks the
    // deterministic winner (max n, ties to (l, r) binary order), w_k rewrites.
    // byte-level replay pieces (ByteAlphabet.scala:26-41, the GPT-2
    // bytes_to_unicode table): a byte value b maps to chr(b) when printable
    // (0x21-0x7e, 0xa1-0xac, 0xae-0xff) and to chr(256 + rank-among-excluded)
    // otherwise — ranks: 0x00-0x20 → 0-32, 0x7f-0xa0 → 33-66 (chr(162+b)),
    // 0xad → 67 (chr(323))
    def byteAlpha(b: String): String =
      s"CASE WHEN ($b BETWEEN 33 AND 126) OR ($b BETWEEN 161 AND 172) " +
        s"OR ($b >= 174 AND $b <= 255) THEN chr($b) " +
        s"WHEN $b <= 32 THEN chr(256 + $b) WHEN $b = 173 THEN chr(323) " +
        s"ELSE chr(162 + $b) END"
    // UTF-8 encoder in SQL: a codepoint becomes its 1-4 bytes arithmetically,
    // each byte through the alphabet — so list element i of the result is
    // EXACTLY ByteAlphabet.syms' symbol for that byte
    def utf8Alpha(cp: String): String = {
      def lst(bs: Seq[String]) = bs.map(b => byteAlpha(s"($b)")).mkString("[", ", ", "]")
      s"CASE WHEN $cp < 128 THEN [${byteAlpha(cp)}] " +
        s"WHEN $cp < 2048 THEN ${lst(Seq(s"192 + $cp // 64", s"128 + $cp % 64"))} " +
        s"WHEN $cp < 65536 THEN ${lst(Seq(s"224 + $cp // 4096",
          s"128 + ($cp // 64) % 64", s"128 + $cp % 64"))} " +
        s"ELSE ${lst(Seq(s"240 + $cp // 262144", s"128 + ($cp // 4096) % 64",
          s"128 + ($cp // 64) % 64", s"128 + $cp % 64"))} END"
    }
    // a word as its wrapped byte-symbol string: every UTF-8 byte of every
    // character, each chr(1)..chr(2)-wrapped alphabet char
    def byteSymsSql(word: String): String =
      s"""list_aggregate(list_transform(
         |    flatten(list_transform(range(1, len($word) + 1),
         |      i -> ${utf8Alpha(s"ord($word[i])")})),
         |    c -> chr(1) || c || chr(2)), 'string_agg', '')""".stripMargin
    // DuckDB inlines a CTE at EVERY reference site, and each BPE rank's
    // w_k/d_k references its predecessor twice (pair count + rewrite) — so
    // inlined evaluation duplicates the whole prefix per rank, 2^numMerges
    // copies of the seed CTE (measured: ASCII 12-rank train 142 s at sf0.01;
    // 0.2 s with MATERIALIZED, identical rows). Pin linear evaluation.
    def materialize(ctes: String): String =
      ctes.replaceAll("""(?m)^(\s*)(\w+) AS \(""", "$1$2 AS MATERIALIZED (")
    // the multilingualized corpus (multilingualDocs' transform, replayed) +
    // its token stream — inputs of the byte-mode BPE rows
    val multiDocCtes =
      """mdoc AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN mb || ' 日本語 😀' ELSE mb END AS text
        |  FROM (SELECT doc_id,
        |      CASE WHEN doc_id % 3 = 0 THEN translate(text, 'ae', 'äé')
        |           ELSE text END AS mb FROM documents)),
        |tb AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0) AS toks FROM mdoc)""".stripMargin
    // Unigram-LM train replay (trainUnigramVocab's exact contract): layered
    // Viterbi dp per word position — dp{r}_{i} holds each word's single
    // best state at position i under the (k ASC, s DESC, path ASC) order,
    // which is dp-exact because the objective is extension-consistent (see
    // UnigramSegmentWord's scaladoc) — with the seed, both E-step usage
    // counts, and both alphabet-preserving prunes in pure integer SQL
    // withEncode appends one more Viterbi dp round against the FINAL
    // vocabulary (the deployment segmentation — train-then-encode over the
    // train corpus reuses the same eligible word set `uw`) plus the per-doc
    // reassembly: tokens explode with position, eligible words look up
    // their dp path, out-of-domain tokens stay opaque, and the doc's
    // subword stream re-flattens in token order (ends in CTE `uenc`)
    def unigramCtes(vocabSize: Int, seedSize: Int, maxP: Int, maxW: Int,
        rounds: Int, withEncode: Boolean = false): String = {
      def dpChain(r: Int): String = {
        val parts = scala.collection.mutable.ArrayBuffer(
          s"dp${r}_0 AS (SELECT word, 0 AS k, CAST(0 AS BIGINT) AS s, '' AS path FROM uw)")
        for (i <- 1 to maxW) {
          val branches = (1 to math.min(maxP, i)).map { j =>
            s"""SELECT d.word, d.k + 1 AS k, d.s + v.n AS s,
               |  CASE WHEN d.path = '' THEN v.piece ELSE d.path || ' ' || v.piece END AS path
               |FROM dp${r}_${i - j} d JOIN uvocab$r v ON v.piece = substr(d.word, ${i - j + 1}, $j)
               |WHERE len(d.word) >= $i""".stripMargin
          }.mkString("\nUNION ALL\n")
          parts += s"""dp${r}_$i AS (SELECT word, k, s, path FROM (
            |  SELECT *, row_number() OVER (PARTITION BY word ORDER BY k, s DESC, path) AS rn
            |  FROM ($branches)) WHERE rn = 1)""".stripMargin
        }
        parts += ("seg" + r + " AS (" + (1 to maxW).map(i =>
          s"SELECT word, path FROM dp${r}_$i WHERE len(word) = $i")
          .mkString("\nUNION ALL\n") + ")")
        parts += s"""use$r AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
          |  SELECT w.cnt, unnest(string_split(s.path, ' ')) AS piece
          |  FROM seg$r s JOIN uw w USING (word)) GROUP BY piece)""".stripMargin
        parts.mkString(",\n")
      }
      def prune(r: Int): String =
        s"""utop$r AS (SELECT piece, n FROM use$r ORDER BY n DESC, piece LIMIT $vocabSize),
           |uvocab${r + 1} AS (SELECT piece, n FROM utop$r UNION
           |  SELECT c.piece, coalesce(u.n, CAST(0 AS BIGINT)) AS n
           |  FROM (SELECT piece FROM upieces WHERE len(piece) = 1) c
           |  LEFT JOIN use$r u USING (piece))""".stripMargin
      val base =
        s"""uw AS (
           |  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
           |      x -> len(x) > 0)) AS w FROM documents)
           |  WHERE regexp_matches(w, '^[!-~]+$$') AND len(w) <= $maxW GROUP BY w),
           |upieces AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
           |    SELECT cnt, substr(word, CAST(i.range AS INT), CAST(l.range AS INT)) AS piece
           |    FROM uw, range(1, ${maxW + 1}) i, range(1, ${maxP + 1}) l
           |    WHERE i.range + l.range - 1 <= len(word))
           |  GROUP BY piece),
           |useed AS (SELECT piece, n FROM upieces ORDER BY n DESC, piece LIMIT $seedSize),
           |uvocab1 AS (SELECT piece, n FROM useed UNION
           |  SELECT piece, n FROM upieces WHERE len(piece) = 1)""".stripMargin
      val train = base +: (1 to rounds).flatMap(r => Seq(dpChain(r), prune(r)))
      val encode = if (!withEncode) Seq.empty else Seq(
        dpChain(rounds + 1),
        s"""utok AS (SELECT doc_id, tok, pos FROM (
           |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
           |  FROM t)),
           |usw AS (SELECT doc_id, pos,
           |  CASE WHEN s.path IS NOT NULL THEN string_split(s.path, ' ')
           |       ELSE [tok] END AS pieces
           |  FROM utok LEFT JOIN seg${rounds + 1} s ON s.word = utok.tok),
           |uenc AS (SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS sw
           |  FROM usw GROUP BY doc_id)""".stripMargin)
      (train ++ encode).mkString(",\n")
    }
    def bpeTrainCtes(numMerges: Int, byteMode: Boolean = false): String = {
      val parts =
        if (byteMode)
          // byte mode trains on EVERY token (no printable filter); a leading
          // space byte (→ Ġ) marks every non-doc-initial token, and
          // prefixed/unprefixed occurrences are distinct training words
          scala.collection.mutable.ArrayBuffer(
            """wcnt AS (
              |  SELECT w AS word, count(*) AS cnt FROM (
              |    SELECT CASE WHEN pos > 1 THEN ' ' || tok ELSE tok END AS w FROM (
              |      SELECT unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
              |      FROM tb))
              |  GROUP BY w)""".stripMargin,
            s"""w_0 AS (
               |  SELECT cnt, ${byteSymsSql("word")} AS s
               |  FROM wcnt)""".stripMargin)
        else scala.collection.mutable.ArrayBuffer(
        """wcnt AS (
          |  SELECT w AS word, count(*) AS cnt FROM (
          |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |      x -> len(x) > 0)) AS w FROM documents)
          |  WHERE regexp_matches(w, '^[!-~]+$') GROUP BY w)""".stripMargin,
        """w_0 AS (
          |  SELECT cnt, list_aggregate(list_transform(range(1, len(word) + 1),
          |    i -> chr(1) || word[i] || chr(2)), 'string_agg', '') AS s
          |  FROM wcnt)""".stripMargin)
      for (k <- 1 to numMerges) {
        parts += s"""p_$k AS (
          |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS n FROM (
          |    SELECT cnt, unnest(list_transform(range(1, len(toks)),
          |      i -> struct_pack(l := toks[i], r := toks[i+1]))) AS p
          |    FROM (SELECT cnt, string_split(trim(s, chr(1) || chr(2)),
          |                                   chr(2) || chr(1)) AS toks
          |          FROM w_${k - 1}))
          |  GROUP BY p.l, p.r)""".stripMargin
        parts += s"m_$k AS (SELECT l, r, n FROM p_$k ORDER BY n DESC, l, r LIMIT 1)"
        parts += s"""w_$k AS (
          |  SELECT cnt, replace(s, chr(1) || m.l || chr(2) || chr(1) || m.r || chr(2),
          |                         chr(1) || m.l || m.r || chr(2)) AS s
          |  FROM w_${k - 1}, m_$k m)""".stripMargin
      }
      parts.mkString(",\n")
    }
    def bpeMergesSelect(numMerges: Int): String = (1 to numMerges).map(k =>
      s"SELECT CAST($k AS INT) AS rank, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, n FROM m_$k").mkString(" UNION ALL ")
    // WordPiece train replay: ##-seeded symbols, per-rank pair AND marginal
    // counts, the likelihood argmax in quantized HUGEINT (n·10¹² // nl·nr),
    // the marker-stripped merged symbol — rank by rank, the bpeTrainCtes
    // replace-apply discipline
    def wordPieceTrainCtes(numMerges: Int): String = {
      val parts = scala.collection.mutable.ArrayBuffer(
        """wpw AS (
          |  SELECT w AS word, count(*) AS cnt FROM (
          |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |      x -> len(x) > 0)) AS w FROM documents)
          |  WHERE regexp_matches(w, '^[!-~]+$') AND NOT contains(w, '#')
          |  GROUP BY w)""".stripMargin,
        """wp_0 AS (
          |  SELECT cnt, list_aggregate(list_transform(range(1, len(word) + 1),
          |    i -> chr(1) || (CASE WHEN i = 1 THEN word[i]
          |                         ELSE '##' || word[i] END) || chr(2)),
          |    'string_agg', '') AS s
          |  FROM wpw)""".stripMargin)
      for (k <- 1 to numMerges) {
        parts += s"""wt_$k AS (SELECT cnt,
          |  string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1)) AS toks
          |  FROM wp_${k - 1})""".stripMargin
        parts += s"""wsc_$k AS (SELECT tok AS sym, CAST(sum(cnt) AS BIGINT) AS ns
          |  FROM (SELECT cnt, unnest(toks) AS tok FROM wt_$k) GROUP BY tok)""".stripMargin
        parts += s"""wpp_$k AS (
          |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS n FROM (
          |    SELECT cnt, unnest(list_transform(range(1, len(toks)),
          |      i -> struct_pack(l := toks[i], r := toks[i+1]))) AS p
          |    FROM wt_$k)
          |  GROUP BY p.l, p.r)""".stripMargin
        parts += s"""wm_$k AS (SELECT l, r, n,
          |  CAST(CAST(n AS HUGEINT) * 1000000000000
          |    // (CAST(sl.ns AS HUGEINT) * sr.ns) AS BIGINT) AS score_q,
          |  l || CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END AS merged
          |  FROM wpp_$k JOIN wsc_$k sl ON wpp_$k.l = sl.sym
          |  JOIN wsc_$k sr ON wpp_$k.r = sr.sym
          |  ORDER BY score_q DESC, n DESC, l, r LIMIT 1)""".stripMargin
        parts += s"""wp_$k AS (
          |  SELECT cnt, replace(s, chr(1) || m.l || chr(2) || chr(1) || m.r || chr(2),
          |                         chr(1) || m.merged || chr(2)) AS s
          |  FROM wp_${k - 1}, wm_$k m)""".stripMargin
      }
      parts.mkString(",\n")
    }
    def wordPieceMergesSelect(numMerges: Int): String = (1 to numMerges).map(k =>
      s"SELECT CAST($k AS INT) AS rank, l AS left_sym, r AS right_sym, " +
        s"merged, n, score_q FROM wm_$k").mkString(" UNION ALL ")
    // WordPiece encode replay: deployment vocabulary = alphabet ∪ merged
    // ranks, then the greedy longest-match walk as a LAYERED dp (one layer
    // per consumed span, ≤ maxWordLen layers) over the distinct eligible
    // words — per layer, every candidate span length joins the vocabulary
    // and max(j) is the longest match; a matchless position fails the whole
    // word to [UNK] (pos = -1), the kernel's exact contract. Per-doc
    // reassembly passes out-of-domain tokens through opaque.
    def wordPieceEncodeCtes(numMerges: Int, maxWordLen: Int): String = {
      val mergedUnion = (1 to numMerges)
        .map(k => s"SELECT merged AS piece FROM wm_$k").mkString(" UNION ")
      val parts = scala.collection.mutable.ArrayBuffer(
        """wpalpha AS (SELECT DISTINCT
          |    CASE WHEN i = 1 THEN word[CAST(i AS INT)]
          |         ELSE '##' || word[CAST(i AS INT)] END AS piece
          |  FROM (SELECT word, unnest(range(1, len(word) + 1)) AS i FROM wpw))""".stripMargin,
        s"wpvocab AS (SELECT piece FROM wpalpha UNION $mergedUnion)",
        s"wpuw AS (SELECT word FROM wpw WHERE len(word) <= $maxWordLen)",
        "wps_0 AS (SELECT word, 0 AS pos, '' AS acc FROM wpuw)")
      for (k <- 1 to maxWordLen) {
        parts += s"""wpc_$k AS (SELECT word, pos, acc,
          |    unnest(range(1, len(word) - pos + 1)) AS j
          |  FROM wps_${k - 1} WHERE pos >= 0 AND pos < len(word))""".stripMargin
        parts += s"""wpb_$k AS (SELECT word, pos, acc,
          |    max(CASE WHEN v.piece IS NOT NULL THEN j END) AS bj
          |  FROM wpc_$k c LEFT JOIN wpvocab v ON v.piece =
          |    CASE WHEN c.pos = 0 THEN substr(c.word, 1, CAST(c.j AS INT))
          |         ELSE '##' || substr(c.word, c.pos + 1, CAST(c.j AS INT)) END
          |  GROUP BY word, pos, acc)""".stripMargin
        parts += s"""wps_$k AS (
          |  SELECT word, pos, acc FROM wps_${k - 1}
          |    WHERE pos < 0 OR pos >= len(word)
          |  UNION ALL
          |  SELECT word,
          |    CASE WHEN bj IS NULL THEN -1 ELSE pos + CAST(bj AS INT) END,
          |    CASE WHEN bj IS NULL THEN NULL
          |         ELSE (CASE WHEN acc = '' THEN '' ELSE acc || ' ' END) ||
          |              (CASE WHEN pos = 0 THEN substr(word, 1, CAST(bj AS INT))
          |                    ELSE '##' || substr(word, pos + 1, CAST(bj AS INT))
          |               END) END
          |  FROM wpb_$k)""".stripMargin
      }
      parts += s"""wpseg AS (SELECT word,
        |  CASE WHEN pos < 0 THEN '[UNK]' ELSE acc END AS seg
        |  FROM wps_$maxWordLen)""".stripMargin
      parts += s"""wptok AS (SELECT doc_id, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS tpos FROM t)""".stripMargin
      parts += s"""wpenc AS (SELECT doc_id,
        |  string_agg(CASE WHEN seg IS NOT NULL THEN seg ELSE tok END,
        |    ' ' ORDER BY tpos) AS sws
        |  FROM wptok LEFT JOIN wpseg ON wpseg.word = wptok.tok
        |  GROUP BY doc_id)""".stripMargin
      parts.mkString(",\n")
    }
    // doc-side encode replay: every token becomes its \x01char\x02-wrapped
    // string (non-ASCII-printable tokens wrap WHOLE — one opaque subword, no
    // merge can reach inside), tokens join with chr(3) so a merge pattern
    // can never span a token boundary, then the trained merges apply once in
    // rank order via the same replace trick the trainer uses
    def bpeEncodeCtes(numMerges: Int, byteMode: Boolean = false): String = {
      val seed =
        if (byteMode)
          // byte mode: every token wraps per-BYTE (space-prefixed when not
          // doc-initial — the kernel's t==0 rule); chr(3) still separates
          // tokens so no merge pattern can span a boundary
          s"""d_0 AS (SELECT doc_id, string_agg(ws, chr(3) ORDER BY pos) AS s FROM (
             |  SELECT doc_id, pos, ${byteSymsSql("word")} AS ws
             |  FROM (SELECT doc_id, pos,
             |      CASE WHEN pos > 1 THEN ' ' || tok ELSE tok END AS word
             |    FROM (SELECT doc_id, unnest(toks) AS tok,
             |        generate_subscripts(toks, 1) AS pos FROM tb)))
             |  GROUP BY doc_id)""".stripMargin
        else
        """d_0 AS (SELECT doc_id, list_aggregate(list_transform(toks, tok ->
          |  CASE WHEN regexp_matches(tok, '^[!-~]+$')
          |    THEN list_aggregate(list_transform(range(1, len(tok) + 1),
          |      i -> chr(1) || tok[i] || chr(2)), 'string_agg', '')
          |    ELSE chr(1) || tok || chr(2) END), 'string_agg', chr(3)) AS s
          |  FROM t WHERE len(toks) > 0)""".stripMargin
      val parts = scala.collection.mutable.ArrayBuffer(seed)
      for (k <- 1 to numMerges)
        parts += s"""d_$k AS (SELECT doc_id, CASE WHEN m.l IS NULL THEN s ELSE
          |  replace(s, chr(1) || m.l || chr(2) || chr(1) || m.r || chr(2),
          |             chr(1) || m.l || m.r || chr(2)) END AS s
          |  FROM d_${k - 1} LEFT JOIN m_$k m ON TRUE)""".stripMargin
      parts += s"""enc AS (SELECT doc_id,
        |  string_split(trim(replace(s, chr(3), ''), chr(1) || chr(2)),
        |               chr(2) || chr(1)) AS sw
        |  FROM d_$numMerges)""".stripMargin
      parts.mkString(",\n")
    }
    // shared HLL decode (p=8): 16-bit md5 chunks, 56-bit rest, rank ladder
    val hllChunks = (0 until 4).map(c =>
      s"CAST(concat('0x', substr(hx, ${1 + 4 * c}, 4)) AS BIGINT) AS c$c").mkString(", ")
    val hllRest = "((c0 % 256) << 48) | (c1 << 32) | (c2 << 16) | c3"
    val hllLadder = (1 to 56).map(r =>
      s"WHEN rest >= ${1L << (56 - r)} THEN $r").mkString(" ")
    // the p=4 variant (graph_neighborhood's HyperBall precision): 4-bit
    // bucket from the top chunk, 60-bit rest, rank ladder 1..60 else 61
    val hllRestP4 = "((c0 % 4096) << 48) | (c1 << 32) | (c2 << 16) | c3"
    val hllLadderP4 = (1 to 60).map(r =>
      s"WHEN rest >= ${1L << (60 - r)} THEN $r").mkString(" ")
    // shared HyperBall register chain over the purchase+path graph —
    // edges, symmetrize, per-node p=4 seed registers, three unrolled
    // bucket-wise-max sweeps, the stacked radius table `allr`; consumed by
    // graph_neighborhood AND graph_harmonic so the replays cannot drift
    val hyperballCtes = {
      val sweeps = (1 to 3).map { r =>
        s"""r$r AS (SELECT node, bucket, max(max_rank) AS max_rank FROM (
           |  SELECT node, bucket, max_rank FROM r${r - 1}
           |  UNION ALL
           |  SELECT e.dst AS node, rr.bucket, rr.max_rank
           |  FROM e JOIN r${r - 1} rr ON rr.node = e.src) t
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val stack = (0 to 3).map(r =>
        s"SELECT $r AS radius, node, bucket, max_rank FROM r$r")
        .mkString("\nUNION ALL ")
      s"""o AS (SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |pth AS (SELECT gs.j + 3000000 AS src, gs.j + 3000001 AS dst
         |  FROM generate_series(1, 39) gs(j)),
         |raw AS (SELECT src, dst FROM o UNION ALL SELECT src, dst FROM pth),
         |e AS (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw) s
         |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h AS (SELECT node, substr(md5(CAST(node AS VARCHAR)), 1, 16) AS hx FROM n),
         |c AS (SELECT node, $hllChunks FROM h),
         |b AS (SELECT node, c0 // 4096 AS bucket, $hllRestP4 AS rest FROM c),
         |r0 AS (SELECT node, bucket, CASE $hllLadderP4 ELSE 61 END AS max_rank FROM b),
         |$sweeps,
         |allr AS ($stack)""".stripMargin
    }
    // the three ANN replays as vals: each is its own oracle entry AND a
    // WITH-in-subquery branch of search_rrf_fusion (one definition, the
    // fused replay cannot drift from the per-ranking ones)
    // shared resample chain (arg-max per 6h bucket, lead gap, capped fill
    // explode) — used by resample_ffill AND the panel-anomaly pipeline so
    // the composed replay cannot drift from the single-stage one
    val resampleFfillCtes =
      """ev AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 10000) AS BIGINT) AS v_cents, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |obs AS (SELECT user_id, us // 21600000000 AS bucket, v_cents, event_type,
        |    row_number() OVER (PARTITION BY user_id, us // 21600000000
        |      ORDER BY us DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, us // 21600000000) AS n
        |  FROM ev),
        |w AS (SELECT user_id, bucket, v_cents, event_type, n,
        |    lead(bucket) OVER (PARTITION BY user_id ORDER BY bucket) AS nxt
        |  FROM obs WHERE rn = 1),
        |g AS (SELECT user_id, bucket, v_cents, event_type, n,
        |    unnest(generate_series(0, least(coalesce(nxt - bucket - 1, 0), 8))) AS i
        |  FROM w)""".stripMargin
    val knnBruteSql =
      """SELECT qid, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(c.embedding AS DOUBLE[])) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 10""".stripMargin
    val knnLshSql = {
      val planes = graft.ops.Dedup.hyperplanes(8, 64, 42L)
      def arr(p: Seq[Double]): String =
        p.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]")
      val dots = planes.zipWithIndex.map { case (p, i) =>
        s"list_dot_product(v, ${arr(p)}) AS dot_$i"
      }.mkString(",\n  ")
      val bucket = (0 until 8)
        .map(i => s"(CASE WHEN dot_$i >= 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")
      val masks = (0 until 256).filter(m => Integer.bitCount(m) <= 1)
        .mkString("[", ", ", "]")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT vec_id, v,
         |  $dots
         |FROM c),
         |b AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bucket FROM d),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 5),
         |p AS (SELECT qid, qv, xor(qbucket, m.m) AS bucket
         |      FROM q, (SELECT CAST(unnest($masks) AS BIGINT) AS m) m),
         |s AS (SELECT p.qid, cb.vec_id AS id,
         |  row_number() OVER (PARTITION BY p.qid
         |    ORDER BY list_cosine_similarity(p.qv, cb.v) DESC, cb.vec_id) AS rank
         |  FROM p JOIN b cb USING (bucket))
         |SELECT qid, id AS neighbor_id, rank FROM s WHERE rank <= 10""".stripMargin
    }
    val knnIvfSql = {
      val (numCells, numProbes, k, lloydIters) = (16, 4, 10, 2)
      s"""WITH ${ivfTrainCtes(numCells, lloydIters)},
         |q AS (SELECT id AS qid, v AS qv FROM c WHERE id < 5),
         |probes AS (SELECT qid, qv, cell FROM (
         |  SELECT q.qid, q.qv, t.cell, row_number() OVER (PARTITION BY q.qid
         |    ORDER BY ${ivfDist2("q.qv", "t.cv")}, t.cell) AS rn
         |  FROM q CROSS JOIN cent_$lloydIters t) WHERE rn <= $numProbes),
         |cand AS (SELECT p.qid, p.qv, a.id, a.v FROM probes p JOIN afinal a USING (cell))
         |SELECT qid, id AS neighbor_id, rank FROM (
         |  SELECT qid, id, row_number() OVER (PARTITION BY qid
         |    ORDER BY list_cosine_similarity(qv, v) DESC, id) AS rank
         |  FROM cand) WHERE rank <= $k""".stripMargin
    }
    Map(
      "source_parquet" ->
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
      "source_csv_roundtrip" ->
        "SELECT n_nationkey, n_name, n_regionkey FROM nation",
      "source_json_roundtrip" ->
        "SELECT r_regionkey, r_name FROM region",
      // CAST the sum: DuckDB sum(BIGINT) yields HUGEINT, which lands in pandas
      // as float64 and breaks the driver's exact value hash against Spark's
      // int64 (applies to every integer sum() in this map).
      "source_query" ->
        """SELECT o_custkey, count(*) AS n_orders,
          |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |FROM orders GROUP BY o_custkey""".stripMargin,
      "source_field_mapping" ->
        """SELECT event_id, user_id, value AS feature_value,
          |       event_type AS feature_type FROM events""".stripMargin,
      "schema_events" ->
        """SELECT * FROM (VALUES
          |  ('event_id', 'bigint', 'INT64'),
          |  ('ts', 'timestamp', 'UNIX_TIMESTAMP'),
          |  ('user_id', 'bigint', 'INT64'),
          |  ('event_type', 'string', 'STRING'),
          |  ('value', 'double', 'DOUBLE'),
          |  ('props', 'string', 'STRING')) AS t(col_name, data_type, feast_type)""".stripMargin,
      "pull_all_events" ->
        s"""SELECT user_id, value, event_type, epoch_us(ts) AS ts_us FROM events
           |WHERE epoch_us(ts) BETWEEN $StartUs AND $EndUs""".stripMargin,
      "pull_latest_events" ->
        s"""SELECT user_id, value, event_type, ts_us FROM (
           |  SELECT user_id, value, event_type, epoch_us(ts) AS ts_us,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           |  FROM events WHERE epoch_us(ts) BETWEEN $StartUs AND $EndUs)
           |WHERE rn = 1""".stripMargin,
      "pull_latest_ties" ->
        s"""SELECT user_id, value, event_type, ts_us FROM (
           |  SELECT user_id, value, event_type, epoch_us(ts) AS ts_us,
           |    max(epoch_us(ts)) OVER (PARTITION BY user_id) AS mx
           |  FROM events WHERE epoch_us(ts) BETWEEN $StartUs AND $EndUs)
           |WHERE ts_us = mx""".stripMargin,
      // latest-per-user over the WHOLE log: out-of-order ingest + replay
      // must be invisible — the store read equals this single window pick
      "online_store_latest" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
          |    CAST(round(value * 10000) AS BIGINT) AS v, event_type FROM events),
          |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
          |SELECT user_id, ts_us, event_id, v, event_type FROM r WHERE rn = 1""".stripMargin,
      "pit_join" ->
        s"""WITH $entCte, $evCte, $pitCtes
           |SELECT user_id, ent_us AS event_timestamp_us,
           |       feat_value, feat_event_type
           |FROM pit""".stripMargin,
      // staleness replay: the pit base/arg-max chain keeping the SERVED
      // row's ts, then hourly integral age buckets (NULL = no servable
      // row inside the TTL) counted per bucket
      "pit_staleness" ->
        s"""WITH $entCte, $evCte,
           |base AS (
           |  SELECT e.user_id, e.ent_us, v.ts_us, v.event_id
           |  FROM ent e JOIN ev v ON v.user_id = e.user_id
           |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
           |sbest AS (
           |  SELECT user_id, ent_us, ts_us FROM (
           |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
           |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM base)
           |  WHERE rn = 1),
           |aged AS (SELECT e.user_id,
           |    (e.ent_us - b.ts_us) // 3600000000 AS age_bucket
           |  FROM ent e LEFT JOIN sbest b
           |    ON e.user_id = b.user_id AND e.ent_us = b.ent_us)
           |SELECT 'events' AS view, age_bucket, CAST(count(*) AS BIGINT) AS n
           |FROM aged GROUP BY 1, 2""".stripMargin,
      "pit_join_created" ->
        s"""WITH $entCte,
           |ev AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value, event_type,
           |         epoch_us(ts) AS created_us FROM events
           |  UNION ALL
           |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value * 2 AS value,
           |         event_type, epoch_us(ts) + 3600000000 AS created_us FROM events),
           |base AS (
           |  SELECT e.user_id, e.ent_us, v.ts_us, v.created_us, v.event_id,
           |         v.value, v.event_type
           |  FROM ent e JOIN ev v ON v.user_id = e.user_id
           |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
           |best AS (
           |  SELECT user_id, ent_us, value, event_type FROM (
           |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
           |      ORDER BY ts_us DESC, created_us DESC, event_id DESC) AS rn FROM base)
           |  WHERE rn = 1)
           |SELECT e.user_id, e.ent_us AS event_timestamp_us,
           |       b.value AS feat_value, b.event_type AS feat_event_type
           |FROM ent e LEFT JOIN best b
           |  ON e.user_id = b.user_id AND e.ent_us = b.ent_us""".stripMargin,
      "pit_join_multi" ->
        s"""WITH $entCte, $evCte,
           |base AS (
           |  SELECT e.user_id, e.ent_us, v.ts_us, v.event_id, v.value, v.event_type
           |  FROM ent e JOIN ev v ON v.user_id = e.user_id
           |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
           |best AS (
           |  SELECT user_id, ent_us, value, event_type FROM (
           |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
           |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM base)
           |  WHERE rn = 1),
           |ord AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS ts_us,
           |               o_orderkey, o_totalprice, o_orderstatus FROM orders),
           |obase AS (
           |  SELECT e.user_id, e.ent_us, o.ts_us, o.o_orderkey, o.o_totalprice,
           |         o.o_orderstatus
           |  FROM ent e JOIN ord o ON o.user_id = e.user_id AND o.ts_us <= e.ent_us),
           |obest AS (
           |  SELECT user_id, ent_us, o_totalprice, o_orderstatus FROM (
           |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
           |      ORDER BY ts_us DESC, o_orderkey DESC) AS rn FROM obase)
           |  WHERE rn = 1)
           |SELECT e.user_id, e.ent_us AS event_timestamp_us,
           |       b.value AS events__value, b.event_type AS events__event_type,
           |       o.o_totalprice AS orders__o_totalprice,
           |       o.o_orderstatus AS orders__o_orderstatus
           |FROM ent e
           |LEFT JOIN best b ON e.user_id = b.user_id AND e.ent_us = b.ent_us
           |LEFT JOIN obest o ON e.user_id = o.user_id AND e.ent_us = o.ent_us""".stripMargin,
      "dedup_exact" ->
        """WITH u AS (SELECT * FROM documents UNION ALL
          |  SELECT doc_id + 100000, text, lang, source, n_chars FROM documents)
          |SELECT min(doc_id) AS doc_id, count(*) AS n_dups
          |FROM u GROUP BY lower(trim(text))""".stripMargin,
      "pipeline_clean_corpus" ->
        s"""WITH u AS (SELECT * FROM documents UNION ALL
           |  SELECT doc_id + 100000, text, lang, source, n_chars FROM documents),
           |t AS (SELECT doc_id, text,
           |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
           |  FROM u),
           |c AS (SELECT doc_id, text, len(toks) AS n_tokens,
           |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
           |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
           |  len(list_distinct(toks)) AS n_distinct_tokens,
           |  length(text) AS n_chars FROM t),
           |q AS (SELECT doc_id, text,
           |  round(
           |    least(n_tokens / 20.0, 1.0) * 0.25 +
           |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
           |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
           |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
           |    6) AS quality_score
           |  FROM c),
           |f AS (SELECT * FROM q WHERE quality_score >= 0.5)
           |SELECT min(doc_id) AS doc_id, count(*) AS n_dups,
           |       arg_min(quality_score, doc_id) AS quality_score
           |FROM f GROUP BY lower(trim(text))""".stripMargin,
      // Ground truth is the full all-pairs Jaccard (feasible in DuckDB at the
      // oracle SF) — so this checks both LSH recall (banded candidates find
      // every true pair, planted AND organic) and verify precision.
      // cross-corpus ground truth: ALL (batch, ref) pairs by exact string-
      // shingle Jaccard — the LSH result must equal it pair-for-pair.
      // Recall assumption (documented at Dedup.minHashLshAgainst): exact
      // ground truth vs probabilistic LSH matches pair-for-pair only
      // because every true pair at this SF sits far above the band
      // S-curve's 50% point and no bucket nears maxBucket — a data/seed
      // change can break the gate without a code bug; check those two
      // assumptions first.
      "dedup_minhash_against" ->
        """WITH b AS (SELECT doc_id + 100000 AS doc_id, text || ' graftdup' AS text
          |  FROM documents),
          |tb AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM b),
          |tr AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |shb AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM tb),
          |shr AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM tr)
          |SELECT a.doc_id AS batch_id, r.doc_id AS ref_id
          |FROM shb a JOIN shr r
          |  ON len(a.sh) > 0 AND len(r.sh) > 0
          | AND CAST(len(list_intersect(a.sh, r.sh)) AS DOUBLE) /
          |     len(list_distinct(a.sh || r.sh)) >= 0.8""".stripMargin,
      // the store-probed form is graded against the IDENTICAL ground truth
      "dedup_minhash_store" ->
        """WITH b AS (SELECT doc_id + 100000 AS doc_id, text || ' graftdup' AS text
          |  FROM documents),
          |tb AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM b),
          |tr AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |shb AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM tb),
          |shr AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM tr)
          |SELECT a.doc_id AS batch_id, r.doc_id AS ref_id
          |FROM shb a JOIN shr r
          |  ON len(a.sh) > 0 AND len(r.sh) > 0
          | AND CAST(len(list_intersect(a.sh, r.sh)) AS DOUBLE) /
          |     len(list_distinct(a.sh || r.sh)) >= 0.8""".stripMargin,
      "dedup_minhash" ->
        """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
          |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM u),
          |sh AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM t)
          |SELECT a.doc_id AS a_id, b.doc_id AS b_id
          |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          |      len(list_distinct(a.sh || b.sh)) >= 0.8""".stripMargin,
      // Full all-pairs ground truth again — the exact join must equal it
      // pair-for-pair AND value-for-value (inter/union/jaccard), which pins
      // prefix-filter completeness and the hash-set == string-set size claim.
      "set_similarity_join" ->
        """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
          |  SELECT doc_id + 100000, text || ' graftdup' FROM documents UNION ALL
          |  SELECT doc_id + 200000, array_to_string(
          |    list_slice(tk, 1, (len(tk) + 1) // 2), ' ')
          |  FROM (SELECT doc_id,
          |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
          |    FROM documents)),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM u),
          |sh AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM t),
          |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |        len(list_intersect(a.sh, b.sh)) AS inter_size,
          |        len(a.sh) AS asz, len(b.sh) AS bsz
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
          |SELECT a_id, b_id, CAST(inter_size AS BIGINT) AS inter_size,
          |       CAST(asz + bsz - inter_size AS BIGINT) AS union_size,
          |       CAST(inter_size AS DOUBLE) / (asz + bsz - inter_size) AS jaccard
          |FROM p
          |WHERE CAST(inter_size AS DOUBLE) / (asz + bsz - inter_size) >= 0.8""".stripMargin,
      // cosine sibling: the identical all-pairs universe, Ochiai over the
      // distinct shingle sets, the same IEEE multiply/sqrt/divide chain
      "cosine_set_join" ->
        """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
          |  SELECT doc_id + 100000, text || ' graftdup' FROM documents UNION ALL
          |  SELECT doc_id + 200000, array_to_string(
          |    list_slice(tk, 1, (len(tk) + 1) // 2), ' ')
          |  FROM (SELECT doc_id,
          |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
          |    FROM documents)),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM u),
          |sh AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM t),
          |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |        len(list_intersect(a.sh, b.sh)) AS inter_size,
          |        len(a.sh) AS asz, len(b.sh) AS bsz
          |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
          |SELECT a_id, b_id, CAST(inter_size AS BIGINT) AS inter_size,
          |       CAST(inter_size AS DOUBLE) / sqrt(CAST(asz * bsz AS DOUBLE)) AS cosine
          |FROM p
          |WHERE CAST(inter_size AS DOUBLE) / sqrt(CAST(asz * bsz AS DOUBLE)) >= 0.7""".stripMargin,
      // quality panel: each constraint replayed as its defining SQL — the
      // row-local trio from one scan, uniqueness as duplicate-group row
      // sums, referential as NOT EXISTS against the filtered dimension
      "quality_panel" ->
        """WITH rl AS (
          |  SELECT count(*) AS n_rows,
          |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
          |    sum(CASE WHEN o_totalprice IS NOT NULL
          |             AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
          |        THEN 1 ELSE 0 END) AS v_rng,
          |    sum(CASE WHEN o_orderstatus IS NOT NULL
          |             AND NOT regexp_matches(o_orderstatus, '^[A-Z]$')
          |        THEN 1 ELSE 0 END) AS v_rx
          |  FROM orders),
          |uq1 AS (SELECT COALESCE(sum(c), 0) AS v FROM (
          |  SELECT count(*) AS c FROM orders WHERE o_orderkey IS NOT NULL
          |  GROUP BY o_orderkey HAVING count(*) > 1)),
          |uq2 AS (SELECT COALESCE(sum(c), 0) AS v FROM (
          |  SELECT count(*) AS c FROM orders WHERE o_orderpriority IS NOT NULL
          |  GROUP BY o_orderpriority HAVING count(*) > 1)),
          |rf AS (SELECT count(*) AS v FROM orders o
          |  WHERE o_custkey IS NOT NULL AND NOT EXISTS (
          |    SELECT 1 FROM customer c
          |    WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 0))
          |SELECT 'not_null' AS "check", 'o_custkey' AS col_name, n_rows,
          |       CAST(v_nn AS BIGINT) AS n_violations, v_nn = 0 AS passed FROM rl
          |UNION ALL SELECT 'in_range', 'o_totalprice', n_rows,
          |       CAST(v_rng AS BIGINT), v_rng = 0 FROM rl
          |UNION ALL SELECT 'regex', 'o_orderstatus', n_rows,
          |       CAST(v_rx AS BIGINT), v_rx = 0 FROM rl
          |UNION ALL SELECT 'unique', 'o_orderkey', (SELECT n_rows FROM rl),
          |       CAST(v AS BIGINT), v = 0 FROM uq1
          |UNION ALL SELECT 'unique', 'o_orderpriority', (SELECT n_rows FROM rl),
          |       CAST(v AS BIGINT), v = 0 FROM uq2
          |UNION ALL SELECT 'ref_integrity', 'o_custkey', (SELECT n_rows FROM rl),
          |       CAST(v AS BIGINT), v = 0 FROM rf""".stripMargin,
      // per-day grouped panel + trailing-week rate bands; the planted
      // level shift (every 23rd value missing from Jan 24) must flag on
      // the shift day and re-enter the band after
      "dq_history" ->
        """WITH p AS (
          |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_id,
          |    event_type, CAST(round(value * 10000) AS BIGINT) AS v,
          |    CASE WHEN CAST(CAST(ts AS DATE) AS VARCHAR) >= '2024-01-24'
          |              AND event_id % 23 = 0
          |         THEN NULL ELSE CAST(round(value * 10000) AS BIGINT)
          |    END AS vp
          |  FROM events),
          |tot AS (SELECT dt, CAST(count(*) AS BIGINT) AS n_rows
          |  FROM p GROUP BY dt),
          |m AS (
          |  SELECT dt, 'not_null' AS check_name, 'v_planted' AS col_name,
          |    CAST(sum(CASE WHEN vp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_violations
          |  FROM p GROUP BY dt
          |  UNION ALL
          |  SELECT dt, 'in_range', 'v_cents',
          |    CAST(sum(CASE WHEN v IS NOT NULL
          |                  AND (v < 100.0 OR v > 4500000.0)
          |             THEN 1 ELSE 0 END) AS BIGINT)
          |  FROM p GROUP BY dt
          |  UNION ALL
          |  SELECT t.dt, 'unique', 'event_id', CAST(COALESCE(u.nv, 0) AS BIGINT)
          |  FROM tot t LEFT JOIN (
          |    SELECT dt, sum(c) AS nv FROM (
          |      SELECT dt, event_id, count(*) AS c FROM p
          |      WHERE event_id IS NOT NULL GROUP BY dt, event_id)
          |    WHERE c > 1 GROUP BY dt) u USING (dt)
          |  UNION ALL
          |  SELECT dt, 'regex', 'event_type',
          |    CAST(sum(CASE WHEN event_type IS NOT NULL
          |                  AND NOT regexp_matches(event_type, '^[a-z]+$')
          |             THEN 1 ELSE 0 END) AS BIGINT)
          |  FROM p GROUP BY dt),
          |j AS (SELECT m.dt, check_name, col_name, t.n_rows, n_violations,
          |  CAST(CASE WHEN t.n_rows > 0
          |    THEN (CAST(n_violations AS HUGEINT) * 1000000) // t.n_rows
          |    ELSE 0 END AS BIGINT) AS violation_ppm
          |  FROM m JOIN tot t USING (dt)),
          |wnd AS (SELECT *,
          |  CAST(count(*) OVER w AS BIGINT) AS n_prior,
          |  min(violation_ppm) OVER w AS lo,
          |  max(violation_ppm) OVER w AS hi
          |  FROM j
          |  WINDOW w AS (PARTITION BY check_name, col_name ORDER BY dt
          |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
          |SELECT dt, check_name AS "check", col_name, n_rows, n_violations,
          |  n_violations = 0 AS passed, violation_ppm, n_prior,
          |  CASE WHEN n_prior >= 3 THEN greatest(lo - 20000, 0)
          |       END AS band_lo_ppm,
          |  CASE WHEN n_prior >= 3 THEN hi + 20000 END AS band_hi_ppm,
          |  n_prior >= 3 AND (violation_ppm < greatest(lo - 20000, 0)
          |                    OR violation_ppm > hi + 20000) AS flagged
          |FROM wnd""".stripMargin,
      // asymmetric sibling: DIRECTED all-pairs containment — the planted
      // first-half excerpts sit at containment 1.0 into their originals
      "containment_join" ->
        """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
          |  SELECT doc_id + 100000, array_to_string(
          |    list_slice(tk, 1, (len(tk) + 1) // 2), ' ')
          |  FROM (SELECT doc_id,
          |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
          |    FROM documents)),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM u),
          |sh AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM t),
          |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |        len(list_intersect(a.sh, b.sh)) AS inter_size,
          |        len(a.sh) AS asz
          |      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
          |      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
          |SELECT a_id, b_id, CAST(inter_size AS BIGINT) AS inter_size,
          |       CAST(asz AS BIGINT) AS a_sz,
          |       CAST(inter_size AS DOUBLE) / asz AS containment
          |FROM p
          |WHERE CAST(inter_size AS DOUBLE) / asz >= 0.9""".stripMargin,
      // fixed-point BM25 replay: every per-term quantity is integer
      // arithmetic (2^20 fixed point, k1 = 6/5, b = 3/4 as exact rationals,
      // ratio idf), so scores and therefore ranks are engine-identical;
      // the VALUES clause is generated from the same bm25Queries fixture
      // the Spark entry uses
      "search_bm25" ->
        s"""WITH $toksCte,
           |s AS (SELECT count(*) AS n_docs, coalesce(sum(len(toks)), 0) AS l_total FROM t),
           |q AS (SELECT * FROM (VALUES ${bm25Queries.map { case (q, tx) => s"('$q', '$tx')" }.mkString(", ")}) AS v(qid, qtext)),
           |qt AS (SELECT qid, term, count(*) AS qtf FROM (SELECT qid,
           |    unnest(list_filter(string_split_regex(lower(trim(qtext)), '\\s+'), x -> len(x) > 0)) AS term
           |  FROM q) GROUP BY 1, 2),
           |tf AS (SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
           |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
           |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
           |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT qid, doc_id, sum(qtf * ((idf_fp * tfc_fp) // 1048576)) AS score_fp
           |  FROM (SELECT qt.qid, tf.doc_id, qt.qtf,
           |      ((2 * (s.n_docs - dft.df) + 1) * 1048576) // (2 * dft.df + 1) AS idf_fp,
           |      (22 * s.l_total * tf.tf * 1048576) //
           |        (10 * s.l_total * tf.tf + 3 * s.l_total + 9 * tf.dl * s.n_docs) AS tfc_fp
           |    FROM tf JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN s)
           |  GROUP BY 1, 2)
           |SELECT qid, doc_id, CAST(rank AS INT) AS rank, CAST(score_fp AS BIGINT) AS score_fp
           |FROM (SELECT qid, doc_id, score_fp,
           |        row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rank
           |      FROM sc)
           |WHERE rank <= 10""".stripMargin,
      "dedup_embedding" ->
        "SELECT vec_id AS a_id, vec_id + 100000 AS b_id FROM embeddings",
      // SemDeDup replay: full deterministic-Lloyd train+assign over the
      // twin-planted corpus (float-exact: FLOAT*FLOAT is IEEE single in
      // both engines, and a float product of 24-bit mantissas is exact in
      // the double it rounds from), within-cluster pairs at cosine >= 0.98
      // (organic max measured 0.51 — margin-safe), recursive-CTE closure,
      // then the (quality desc, id) argmax pick per semantic group
      "dedup_semantic" -> {
        val corpus =
          """SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM (
            |  SELECT vec_id, embedding FROM embeddings
            |  UNION ALL
            |  SELECT vec_id + 100000,
            |    list_transform(embedding, x -> x * CAST(1.0001 AS FLOAT))
            |  FROM embeddings)""".stripMargin
        s"""WITH RECURSIVE ${ivfTrainCtes(16, 2, corpusSql = corpus)},
           |p AS (SELECT a.id AS a, b.id AS b FROM afinal a JOIN afinal b
           |  ON a.cell = b.cell AND a.id < b.id
           |  WHERE list_cosine_similarity(a.v, b.v) >= 0.98),
           |edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
           |reach(src, dst) AS (
           |  SELECT id, id FROM c
           |  UNION
           |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a),
           |grp AS (SELECT src AS id, min(dst) AS group_id FROM reach GROUP BY src),
           |m AS (SELECT g.id, g.group_id, (g.id * 7) % 101 AS quality,
           |  count(*) OVER (PARTITION BY g.group_id) AS n_members,
           |  row_number() OVER (PARTITION BY g.group_id
           |    ORDER BY (g.id * 7) % 101 DESC, g.id) AS rn
           |  FROM grp g)
           |SELECT id AS vec_id, group_id,
           |  CAST(n_members AS BIGINT) AS n_members,
           |  CAST(quality AS BIGINT) AS quality
           |FROM m WHERE rn = 1""".stripMargin
      },
      // frozen-centroid incremental SemDeDup: train on the reference only
      // (the ivfTrainCtes chain), assign the batch against the FINAL
      // centroid table, cross-side pairs within a cell at cosine >= 0.98
      "dedup_semantic_against" -> {
        s"""WITH ${ivfTrainCtes(16, 2)},
           |bat AS (SELECT id, CAST(v AS DOUBLE[]) AS v FROM (
           |  SELECT vec_id + 200000 AS id,
           |    list_transform(embedding, x -> x * CAST(1.0001 AS FLOAT)) AS v
           |  FROM embeddings WHERE vec_id % 3 = 0
           |  UNION ALL
           |  SELECT vec_id + 200000, list_reverse(embedding)
           |  FROM embeddings WHERE vec_id % 3 = 1)),
           |ba AS (SELECT id, v, cell FROM (
           |  SELECT c.id, c.v, t.cell, row_number() OVER (PARTITION BY c.id
           |    ORDER BY ${ivfDist2("c.v", "t.cv")}, t.cell) AS rn
           |  FROM bat c CROSS JOIN cent_2 t) WHERE rn = 1)
           |SELECT ba.id AS batch_id, a.id AS ref_id
           |FROM ba JOIN afinal a ON ba.cell = a.cell
           |WHERE list_cosine_similarity(ba.v, a.v) >= 0.98""".stripMargin
      },
      // SimHash ground truth: DuckDB recomputes the exact md5-chunk signature
      // per doc and does the (feasible at oracle SF) all-pairs hamming — so
      // this checks banded-candidate recall (pigeonhole: hamming<=3 over 4
      // chunks) AND signature correctness bit-for-bit.
      "dedup_simhash" -> {
        val chunks = (0 until 4).map(c =>
          s"CAST(concat('0x', substr(hx, ${1 + 4 * c}, 4)) AS BIGINT) AS c$c").mkString(", ")
        val bits = (0 until 64).map(b =>
          s"sum(CASE WHEN ((c${3 - b / 16} >> ${b % 16}) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
          .mkString(", ")
        val sig = (0 until 63).map(j =>
          s"CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END").mkString(" + ") +
          " + CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0::BIGINT END"
        s"""WITH u AS (SELECT doc_id, text FROM documents UNION ALL
           |  SELECT doc_id + 100000, text FROM documents),
           |t AS (SELECT doc_id,
           |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
           |  FROM u),
           |tk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
           |cc AS (SELECT doc_id, $chunks FROM (SELECT doc_id, md5(tok) AS hx FROM tk)),
           |bits AS (SELECT doc_id, $bits FROM cc GROUP BY doc_id),
           |sig0 AS (SELECT doc_id, $sig AS sim FROM bits),
           |sig AS (SELECT u.doc_id, coalesce(s.sim, 0::BIGINT) AS sim
           |        FROM u LEFT JOIN sig0 s USING (doc_id))
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
           |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
      },
      // connected components as a recursive CTE over the same ground-truth
      // edge set (transitive closure is tiny: near-dup clusters are shallow)
      "dedup_clusters" ->
        """WITH RECURSIVE u AS (SELECT doc_id, text FROM documents UNION ALL
          |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM u),
          |sh AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM t),
          |e AS (SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          |        len(list_distinct(a.sh || b.sh)) >= 0.8),
          |edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
          |reach(src, dst) AS (
          |  SELECT doc_id, doc_id FROM u
          |  UNION
          |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a)
          |SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src""".stripMargin,
      // the LS/SS variant is graded against the IDENTICAL ground truth
      "dedup_clusters_ls" ->
        """WITH RECURSIVE u AS (SELECT doc_id, text FROM documents UNION ALL
          |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM u),
          |sh AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM t),
          |e AS (SELECT a.doc_id AS a, b.doc_id AS b
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          |        len(list_distinct(a.sh || b.sh)) >= 0.8),
          |edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
          |reach(src, dst) AS (
          |  SELECT doc_id, doc_id FROM u
          |  UNION
          |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a)
          |SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src""".stripMargin,
      // same ground-truth clusters, then the canonical pick: max quality,
      // ties to min doc_id — the (quality desc, id) argmax both engines
      // compute on the identical round(.,6) score
      "pipeline_canonicalize" ->
        s"""WITH RECURSIVE u AS (SELECT doc_id, text FROM documents UNION ALL
           |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
           |${canonicalizeCtes("u")},
           |j AS (SELECT ccl.cluster, ccl.id, cjq.quality_score,
           |  row_number() OVER (PARTITION BY ccl.cluster
           |    ORDER BY cjq.quality_score DESC, ccl.id) AS rn
           |  FROM ccl JOIN cjq USING (id))
           |SELECT cluster, max(CASE WHEN rn = 1 THEN id END) AS canonical_id,
           |  max(CASE WHEN rn = 1 THEN quality_score END) AS quality_score,
           |  count(*) AS n_members
           |FROM j GROUP BY cluster""".stripMargin,
      // The LSH oracle replicates the ALGORITHM in DuckDB: the seeded
      // hyperplanes are embedded as literals (Double.toString round-trips
      // exactly), buckets/probes/rank recompute independently. Sign parity is
      // safe: measured cross-engine dot drift ~9e-16 vs min |dot| ~8e-5 on
      // this data (both engines accumulate left-to-right in double).
      "knn_lsh" -> knnLshSql,
      // The IVF oracle recomputes the ENTIRE index in DuckDB — deterministic
      // seed cells (lowest ids), `lloydIters` Lloyd rounds with exact
      // fixed-point centroid means (bit-identical cross-engine), then
      // probe + scan. CTE chain generated per iteration.
      "knn_ivf" -> knnIvfSql,
      // RRF fusion replay: the three ANN oracle chains verbatim as
      // WITH-in-subquery branches (one definition each — the fused replay
      // cannot drift from the per-ranking replays), fixed-point reciprocal
      // sum, (score desc, id) window
      // retrieval eval replay: the SAME brute/LSH chains as their own oracle
      // entries (one definition each — the eval cannot drift from the
      // rankings it grades), left-joined on (qid, neighbor_id), exact hit
      // counts, one IEEE division each for recall@k and reciprocal rank
      "search_eval" ->
        s"""WITH tr AS ($knnBruteSql),
           |ca AS ($knnLshSql),
           |j AS (SELECT tr.qid, tr.rank AS trank, ca.rank AS crank
           |  FROM tr LEFT JOIN ca
           |    ON tr.qid = ca.qid AND tr.neighbor_id = ca.neighbor_id)
           |SELECT qid,
           |  count(*) AS n_truth,
           |  count(crank) AS n_hits,
           |  round(CAST(count(crank) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           |    AS recall_at_k,
           |  coalesce(round(CAST(1.0 AS DOUBLE) /
           |    min(CASE WHEN trank = 1 THEN crank END), 6), 0.0)
           |    AS reciprocal_rank
           |FROM j GROUP BY qid""".stripMargin,
      "search_rrf_fusion" ->
        s"""WITH u AS (
           |  SELECT * FROM ($knnBruteSql)
           |  UNION ALL SELECT * FROM ($knnLshSql)
           |  UNION ALL SELECT * FROM ($knnIvfSql)),
           |sc AS (SELECT qid, neighbor_id,
           |  CAST(sum(1048576 // (60 + rank)) AS BIGINT) AS rrf_score
           |  FROM u GROUP BY 1, 2)
           |SELECT qid, neighbor_id, rank, rrf_score FROM (
           |  SELECT qid, neighbor_id, rrf_score, row_number() OVER (
           |    PARTITION BY qid ORDER BY rrf_score DESC, neighbor_id) AS rank
           |  FROM sc) WHERE rank <= 10""".stripMargin,
      // PQ replay: per subspace, the SAME Lloyd chain over the vector SLICE
      // (prefixed CTEs so four chains share one WITH clause); encode = each
      // subspace's afinal cell, ADC = per-(query, cell) dist tables joined
      // through the codes and summed in ascending subspace order (explicit
      // parens pin the left-to-right IEEE association the kernel uses)
      "knn_pq" -> {
        val (m, cellsPerSub, k, lloydIters, subDim) = (4, 8, 10, 2, 16)
        val chains = (0 until m).map { s =>
          ivfTrainCtes(cellsPerSub, lloydIters,
            corpusSql = "SELECT vec_id AS id, (CAST(embedding AS DOUBLE[]))" +
              s"[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM embeddings",
            prefix = s"s${s}_")
        }.mkString(",\n")
        val dtables = (0 until m).map { s =>
          s"""t$s AS (SELECT q.id AS qid, t.cell, ${ivfDist2("q.v", "t.cv")} AS d
             |  FROM (SELECT id, v FROM s${s}_c WHERE id < 5) q
             |  CROSS JOIN s${s}_cent_$lloydIters t)""".stripMargin
        }.mkString(",\n")
        val codeJoins = (1 until m)
          .map(s => s"JOIN s${s}_afinal a$s ON a$s.id = a0.id").mkString("\n  ")
        val distJoins = (0 until m).map { s =>
          val qlink = if (s == 0) "" else s" AND t$s.qid = t0.qid"
          s"JOIN t$s ON t$s.cell = a$s.cell$qlink"
        }.mkString("\n  ")
        val distSum = (1 until m).foldLeft("t0.d")((acc, s) => s"($acc + t$s.d)")
        s"""WITH $chains,
           |$dtables,
           |scored AS (SELECT t0.qid, a0.id, $distSum AS dist
           |  FROM s0_afinal a0
           |  $codeJoins
           |  $distJoins)
           |SELECT qid, id AS neighbor_id, rank FROM (
           |  SELECT qid, id, row_number() OVER (PARTITION BY qid
           |    ORDER BY dist, id) AS rank FROM scored) WHERE rank <= $k""".stripMargin
      },
      "kmeans_clusters" ->
        s"""WITH ${ivfTrainCtes(16, 2)}
           |SELECT id AS vec_id, cell AS cluster FROM afinal""".stripMargin,
      "kmeans_sample_train" ->
        s"""WITH ${ivfTrainCtes(8, 2, trainPercent = 40)}
           |SELECT id AS vec_id, cell AS cluster FROM afinal""".stripMargin,
      // composed pipeline: cluster (full Lloyd replay) → exact per-cluster
      // cap (37-rule of cap_per_group at 25) → shard+position (shard_layout
      // rule at 4) — one end-to-end determinism check across all stages
      "pipeline_cluster_shard" ->
        s"""WITH ${ivfTrainCtes(16, 2)},
           |capped AS (SELECT id, cluster, md5(CAST(id AS VARCHAR)) AS dg FROM (
           |  SELECT id, cell AS cluster, row_number() OVER (PARTITION BY cell
           |    ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn FROM afinal)
           |  WHERE rn <= 25),
           |sh AS (SELECT id, cluster, dg,
           |  CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 4 AS INT) AS shard
           |  FROM capped)
           |SELECT id AS vec_id, cluster, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, id) - 1 AS BIGINT)
           |    AS position
           |FROM sh""".stripMargin,
      "knn_brute" -> knnBruteSql,
      "text_stats" ->
        s"""WITH $toksCte
           |SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
           |  len(list_distinct(toks)) AS n_distinct_tokens,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           |  len(list_filter(toks, x -> len(x) >= 4)) AS n_long_tokens
           |FROM t""".stripMargin,
      "text_quality" ->
        s"""WITH $toksCte,
           |c AS (SELECT doc_id, len(toks) AS n_tokens,
           |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
           |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
           |  len(list_distinct(toks)) AS n_distinct_tokens,
           |  length(text) AS n_chars FROM t)
           |SELECT doc_id, n_tokens, n_stopwords, n_punct, n_distinct_tokens,
           |  round(
           |    least(n_tokens / 20.0, 1.0) * 0.25 +
           |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
           |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
           |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
           |    6) AS quality_score
           |FROM c""".stripMargin,
      "text_langid" -> {
        val hits = TextAnalysis.stopwords.keys.toSeq.sorted.map(l =>
          s"len(list_filter(toks, x -> list_contains(${sqlList(TextAnalysis.stopwords(l))}, x)))" +
            s" / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS s_$l").mkString(",\n  ")
        s"""WITH $toksCte,
           |s AS (SELECT doc_id,
           |  $hits
           |FROM t),
           |b AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
           |  greatest(s_de, s_en, s_es, s_fr) AS best FROM s)
           |SELECT doc_id,
           |  CASE WHEN best = 0 THEN 'und'
           |       WHEN s_fr = best THEN 'fr'
           |       WHEN s_es = best THEN 'es'
           |       WHEN s_en = best THEN 'en'
           |       ELSE 'de' END AS lang,
           |  round(best, 6) AS confidence
           |FROM b""".stripMargin
      },
      // per-chunk langid votes, per-doc majority + mixed flag; the ladder
      // order mirrors greatest(struct)'s largest-lang tie-break
      "lang_mix" -> {
        val hits = TextAnalysis.stopwords.keys.toSeq.sorted.map(l =>
          s"len(list_filter(ctoks, x -> list_contains(${sqlList(TextAnalysis.stopwords(l))}, x)))" +
            s" / greatest(CAST(len(ctoks) AS DOUBLE), 1.0) AS s_$l").mkString(",\n  ")
        s"""WITH u AS (SELECT doc_id,
           |  CASE WHEN doc_id % 11 = 0 THEN text || ' $langMixTail'
           |       ELSE text END AS text
           |  FROM documents),
           |t2 AS (SELECT doc_id,
           |  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
           |    x -> len(x) > 0) AS toks FROM u),
           |cxl AS (SELECT doc_id, unnest(list_transform(range(0, len(toks), 50),
           |  s2 -> list_slice(toks, s2 + 1, least(s2 + 50, len(toks))))) AS ctoks
           |  FROM t2 WHERE len(toks) > 0),
           |sc AS (SELECT doc_id,
           |  $hits
           |FROM cxl),
           |b2 AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
           |  greatest(s_de, s_en, s_es, s_fr) AS best FROM sc),
           |lg AS (SELECT doc_id,
           |  CASE WHEN best = 0 THEN 'und'
           |       WHEN s_fr = best THEN 'fr'
           |       WHEN s_es = best THEN 'es'
           |       WHEN s_en = best THEN 'en'
           |       ELSE 'de' END AS lang FROM b2),
           |pl AS (SELECT doc_id, lang, count(*) AS c FROM lg GROUP BY 1, 2),
           |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
           |  CAST(sum(CASE WHEN lang <> 'und' THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_langs FROM pl GROUP BY doc_id),
           |tp AS (SELECT doc_id, lang AS top_lang, c FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY c DESC, lang ASC) AS rn FROM pl) WHERE rn = 1)
           |SELECT ag.doc_id AS id, n_chunks, n_langs, top_lang,
           |  CAST(c * 1000000 // n_chunks AS BIGINT) AS top_lang_chunk_ppm,
           |  n_langs > 1 AS mixed
           |FROM ag JOIN tp USING (doc_id)""".stripMargin
      },
      // full train+score replay of the per-language char-bigram LM: the SAME
      // char-token chain (lower/trim → strip non-[a-z] → space after every
      // char), per-language pair/prefix/vocab tables with minCount=2 pruning
      // AFTER the denominators, fixed-point q, and the (score desc, lang)
      // argmax — everything integer, so the match is hash-exact
      "text_langid_model" ->
        """WITH ct AS (SELECT doc_id, lang, list_filter(string_split_regex(
          |  regexp_replace(regexp_replace(lower(trim(text)), '[^a-z]+', '', 'g'),
          |    '(.)', '\1 ', 'g'), '\s+'), x -> len(x) > 0) AS ctoks FROM documents),
          |tr AS (SELECT * FROM ct WHERE doc_id % 5 != 0),
          |tp AS (SELECT lang, unnest(list_transform(range(1, len(ctoks)),
          |  i -> ctoks[i] || ' ' || ctoks[i+1])) AS pair FROM tr),
          |pc AS (SELECT lang, pair, count(*) AS c_pair,
          |  string_split(pair, ' ')[1] AS c1 FROM tp GROUP BY lang, pair),
          |pfx AS (SELECT lang, c1, CAST(sum(c_pair) AS BIGINT) AS c_prefix
          |  FROM pc GROUP BY lang, c1),
          |pt AS (SELECT lang, pair, c_pair FROM pc WHERE c_pair >= 2),
          |vs AS (SELECT lang, greatest(count(DISTINCT ch), 1) AS v
          |  FROM (SELECT lang, unnest(ctoks) AS ch FROM tr) GROUP BY lang),
          |dp AS (SELECT doc_id, pair, count(*) AS c_doc FROM
          |  (SELECT doc_id, unnest(list_transform(range(1, len(ctoks)),
          |    i -> ctoks[i] || ' ' || ctoks[i+1])) AS pair FROM ct)
          |  GROUP BY doc_id, pair),
          |sq AS (SELECT dp.doc_id, vs.lang, dp.c_doc,
          |    CAST(dp.c_doc * (((coalesce(pt.c_pair, 0) + 1) * 1048576)
          |      // (coalesce(pfx.c_prefix, 0) + vs.v)) AS BIGINT) AS q
          |  FROM dp CROSS JOIN vs
          |  LEFT JOIN pt ON pt.lang = vs.lang AND pt.pair = dp.pair
          |  LEFT JOIN pfx ON pfx.lang = vs.lang
          |    AND pfx.c1 = string_split(dp.pair, ' ')[1]),
          |agg AS (SELECT doc_id, lang, CAST(sum(c_doc) AS BIGINT) AS n_bigrams,
          |  CAST(coalesce(sum(q), 0) AS BIGINT) AS score_sum
          |  FROM sq GROUP BY doc_id, lang),
          |best AS (SELECT doc_id, lang, n_bigrams, score_sum,
          |  row_number() OVER (PARTITION BY doc_id
          |    ORDER BY score_sum DESC, lang) AS rn FROM agg)
          |SELECT d.doc_id AS id,
          |  CASE WHEN coalesce(b.n_bigrams, 0) = 0 THEN 'und' ELSE b.lang END AS lang,
          |  CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |  CAST(coalesce(b.score_sum, 0) AS BIGINT) AS score_sum
          |FROM documents d
          |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin,
      "doc_fingerprint" ->
        s"""WITH $toksCte
           |SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
           |FROM t""".stripMargin,
      "ngram_stats" ->
        s"""WITH $toksCte,
           |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
           |  THEN list_transform(range(1, len(toks) - 1),
           |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           |  ELSE [array_to_string(toks, ' ')] END) AS ngram FROM t)
           |SELECT ngram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
           |FROM g GROUP BY 1 ORDER BY n_occurrences DESC, ngram LIMIT 50""".stripMargin,
      "bpe_merges" ->
        s"WITH ${materialize(bpeTrainCtes(12))}\n${bpeMergesSelect(12)}",
      // the whole unigram train replayed: every count, cut, and Viterbi
      // tie-break is integer/total-order, so the final table is bit-equal
      "unigram_vocab" ->
        s"""WITH ${materialize(unigramCtes(48, 192, 4, 12, 2))}
           |SELECT piece, n FROM uvocab3""".stripMargin,
      // the full train REPLAYED plus one deployment dp round + per-doc
      // reassembly; out-of-domain tokens ride through opaque
      "unigram_encode" ->
        s"""WITH ${materialize(s"$toksCte,\n${unigramCtes(48, 192, 4, 12, 2, withEncode = true)}")}
           |SELECT d.doc_id, CAST(coalesce(len(sw), 0) AS INT) AS n_subwords,
           |  coalesce(array_to_string(sw, ' '), '') AS subwords_str
           |FROM documents d LEFT JOIN uenc USING (doc_id)""".stripMargin,
      "bpe_merges_bytes" ->
        s"WITH ${materialize(s"$multiDocCtes,\n${bpeTrainCtes(12, byteMode = true)}")}\n${bpeMergesSelect(12)}",
      "bpe_encode" ->
        s"""WITH ${materialize(s"""$toksCte,
           |${bpeTrainCtes(12)},
           |${bpeEncodeCtes(12)}""".stripMargin)}
           |SELECT d.doc_id, CAST(coalesce(len(sw), 0) AS INT) AS n_subwords,
           |  coalesce(array_to_string(sw, ' '), '') AS subwords_str
           |FROM documents d LEFT JOIN enc USING (doc_id)""".stripMargin,
      "bpe_encode_bytes" ->
        s"""WITH ${materialize(s"""$multiDocCtes,
           |${bpeTrainCtes(12, byteMode = true)},
           |${bpeEncodeCtes(12, byteMode = true)}""".stripMargin)}
           |SELECT d.doc_id, CAST(coalesce(len(sw), 0) AS INT) AS n_subwords,
           |  coalesce(array_to_string(sw, ' '), '') AS subwords_str
           |FROM documents d LEFT JOIN enc USING (doc_id)""".stripMargin,
      "wordpiece_merges" ->
        s"WITH ${materialize(wordPieceTrainCtes(10))}\n${wordPieceMergesSelect(10)}",
      "wordpiece_encode" ->
        s"""WITH ${materialize(s"""$toksCte,
           |${wordPieceTrainCtes(10)},
           |${wordPieceEncodeCtes(10, 12)}""".stripMargin)}
           |SELECT d.doc_id,
           |  CAST(coalesce(len(string_split(sws, ' ')), 0) AS INT) AS n_subwords,
           |  coalesce(sws, '') AS subwords_str
           |FROM documents d LEFT JOIN wpenc USING (doc_id)""".stripMargin,
      // bigram-LM replay: integer counts, add-one smoothing over the train
      // vocabulary, q in 2^20 fixed point with integer division — every
      // value before the final lm_q division is exact in both engines
      // (lmCtes is shared with pipeline_quality_mix, which buckets on the
      // same integer pair (n_bigrams, score_sum))
      "lm_score" ->
        s"""WITH $toksCte,
           |$lmCtes
           |SELECT doc_id, n_bigrams, score_sum,
           |  CASE WHEN n_bigrams = 0 THEN NULL
           |       ELSE CAST(score_sum AS DOUBLE) / n_bigrams END AS lm_q
           |FROM lmagg""".stripMargin,
      // LM-score bucketing in the pure-integer lane (score_sum >= T *
      // n_bigrams) + the mixCorpora md5-bucket epoch rule, replayed
      // end-to-end: which copies exist is a pure function of the key
      "pipeline_quality_mix" ->
        s"""WITH $toksCte,
           |$lmCtes,
           |b AS (SELECT doc_id,
           |  CASE WHEN n_bigrams > 0 AND score_sum >= 36600 * n_bigrams THEN 'head'
           |       WHEN n_bigrams > 0 AND score_sum >= 35700 * n_bigrams THEN 'middle'
           |       ELSE 'tail' END AS bucket FROM lmagg),
           |mb AS (SELECT doc_id, bucket,
           |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
           |    AS hb FROM b),
           |u AS (
           |  SELECT doc_id, bucket, 2 + CASE WHEN hb < 50 THEN 1 ELSE 0 END AS n
           |    FROM mb WHERE bucket = 'head'
           |  UNION ALL SELECT doc_id, bucket, 1 AS n FROM mb WHERE bucket = 'middle'
           |  UNION ALL SELECT doc_id, bucket, CASE WHEN hb < 20 THEN 1 ELSE 0 END AS n
           |    FROM mb WHERE bucket = 'tail')
           |SELECT doc_id, bucket AS mix_source, CAST(unnest(range(1, n + 1)) AS INT) AS copy_id
           |FROM u""".stripMargin,
      "pack_sequences" ->
        s"""WITH $toksCte
           |SELECT source, doc_id, len(toks) AS n_tokens,
           |  CAST(coalesce(sum(len(toks)) OVER (PARTITION BY d.source ORDER BY d.doc_id
           |    ROWS UNBOUNDED PRECEDING) - len(toks), 0) AS BIGINT) AS start_offset,
           |  CAST(floor((coalesce(sum(len(toks)) OVER (PARTITION BY d.source
           |    ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) - len(toks), 0)) / 512)
           |    AS BIGINT) AS bin
           |FROM t JOIN documents d USING (doc_id)""".stripMargin,
      // quality-filter → pack → shard replayed end-to-end: the offsets/bins
      // must reflect exactly the filtered doc set, and the shard positions
      // the packed rows — the composition, not each stage in isolation
      "pipeline_text_pack" ->
        s"""WITH $toksCte,
           |c AS (SELECT doc_id, len(toks) AS n_tokens,
           |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
           |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
           |  len(list_distinct(toks)) AS n_distinct_tokens,
           |  length(text) AS n_chars FROM t),
           |q AS (SELECT doc_id FROM c WHERE round(
           |    least(n_tokens / 20.0, 1.0) * 0.25 +
           |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
           |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
           |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
           |    6) >= 0.5),
           |f AS (SELECT t.doc_id, t.toks, d.source FROM t
           |  JOIN documents d USING (doc_id) JOIN q USING (doc_id)),
           |p AS (SELECT source, doc_id, len(toks) AS n_tokens,
           |  CAST(coalesce(sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS UNBOUNDED PRECEDING) - len(toks), 0) AS BIGINT) AS start_offset,
           |  CAST(floor((coalesce(sum(len(toks)) OVER (PARTITION BY source
           |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - len(toks), 0)) / 512)
           |    AS BIGINT) AS bin
           |  FROM f),
           |s AS (SELECT doc_id, source, n_tokens, start_offset, bin,
           |  md5(CAST(doc_id AS VARCHAR)) AS dg FROM p),
           |s2 AS (SELECT *, CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 4 AS INT)
           |  AS shard FROM s)
           |SELECT doc_id, source, n_tokens, start_offset, bin, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, doc_id) - 1 AS BIGINT)
           |    AS position
           |FROM s2""".stripMargin,
      "multimodal_meta" ->
        """SELECT doc_id AS item_id,
          |  octet_length(encode(text)) AS payload_bytes,
          |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
          |  (['raw','wav','mp4'])[CAST(doc_id % 3 AS INT) + 1] AS format,
          |  CAST(doc_id % 640 + 32 AS INT) AS width,
          |  CAST(doc_id % 480 + 32 AS INT) AS height,
          |  CAST(doc_id % 30 + 1 AS INT) AS n_frames
          |FROM documents""".stripMargin,
      // the decoded-pixel sums of a REAL PNG encode→decode roundtrip,
      // recomputed here from the closed-form pixel formula (PNG is
      // lossless, so decoded bytes must equal the generator's arithmetic)
      "image_stats" ->
        """WITH d AS (SELECT doc_id,
          |    CAST(doc_id % 16 + 8 AS INT) AS w, CAST(doc_id % 12 + 8 AS INT) AS h
          |  FROM documents),
          |px AS (SELECT doc_id, w, h, x.range AS x, y.range AS y
          |  FROM d, range(0, 24) x, range(0, 20) y
          |  WHERE x.range < w AND y.range < h)
          |SELECT doc_id AS item_id, w AS width, h AS height,
          |  CAST(sum((((x * 2654435761 + y * 40503001 + 11) % 65536) *
          |    ((doc_id * 1099087573) % 65521 + 3) // 256) % 256) AS BIGINT) AS sum_r,
          |  CAST(sum((((x * 2246822519 + y * 2654435761 + 7) % 65536) *
          |    ((doc_id * 97002721) % 65521 + 5) // 256) % 256) AS BIGINT) AS sum_g,
          |  CAST(sum((((x * 3266489917 + y * 97002721 + 13) % 65536) *
          |    ((doc_id * 2246822519) % 65521 + 7) // 256) % 256) AS BIGINT) AS sum_b
          |FROM px GROUP BY 1, 2, 3""".stripMargin,
      // the dHash of a REAL PNG decode, replayed arithmetically: a 9x8
      // nearest-neighbor luma grid over the closed-form pixels (composed
      // through the twin resize for the resized population), 64
      // neighbor-brightness bits, then the all-pairs hamming<=3 join (the
      // inert-cap pigeonhole makes Spark's banded join exactly that).
      // Corrupt originals (doc_id%9=0) are excluded here BY the oracle —
      // the corrupt-drop contract — while their twins still participate
      "image_neardup" ->
        s"""WITH $imageHashCtes
           |SELECT a.id AS a_id, b.id AS b_id,
           |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
           |FROM sig a JOIN sig b ON a.id < b.id
           |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
      // the full image-dedup chain over the SAME hash fragment: near-dup
      // pairs → undirected transitive closure (recursive CTE — the
      // dedup_clusters pattern) → min-id canonical labels + cluster sizes
      "pipeline_image_dedup" ->
        s"""WITH RECURSIVE $imageHashCtes,
           |e AS (SELECT a.id AS a, b.id AS b FROM sig a JOIN sig b
           |  ON a.id < b.id WHERE bit_count(xor(a.sig, b.sig)) <= 3),
           |edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
           |reach(src, dst) AS (
           |  SELECT id, id FROM sig
           |  UNION
           |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a),
           |lab AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
           |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
           |  FROM lab GROUP BY cluster)
           |SELECT l.id, l.cluster, s.n_members,
           |  l.id = l.cluster AS is_canonical
           |FROM lab l JOIN sz s USING (cluster)""".stripMargin,
            // frame-0 dHashes replayed arithmetically (f = 0 kills the frame
      // terms; trim twins keep the leading frame bit-identical, so their
      // hash rows are the same formulas), then the all-pairs hamming join;
      // corrupt originals (doc_id%9=0) excluded BY the oracle while their
      // twins participate
      "video_neardup" ->
        """WITH pop AS (
          |  SELECT doc_id AS id, doc_id AS src,
          |    CAST(doc_id % 8 + 12 AS BIGINT) AS w, CAST(doc_id % 6 + 10 AS BIGINT) AS h
          |  FROM documents WHERE doc_id % 9 <> 0
          |  UNION ALL
          |  SELECT doc_id + 10000000, doc_id, doc_id % 8 + 12, doc_id % 6 + 10
          |  FROM documents WHERE doc_id % 6 = 0),
          |g AS (SELECT id, src, gx.range AS gx, gy.range AS gy,
          |    (gx.range * w) // 9 AS sx, (gy.range * h) // 8 AS sy
          |  FROM pop, range(0, 9) gx, range(0, 8) gy),
          |lum AS (SELECT id, gx, gy,
          |    (77 * ((((sx * 2654435761 + sy * 40503001 + 11) % 65536) *
          |      ((src * 1099087573) % 65521 + 3) // 256) % 256)
          |   + 150 * ((((sx * 2246822519 + sy * 2654435761 + 7) % 65536) *
          |      ((src * 97002721) % 65521 + 5) // 256) % 256)
          |   + 29 * ((((sx * 3266489917 + sy * 97002721 + 13) % 65536) *
          |      ((src * 2246822519) % 65521 + 7) // 256) % 256)) // 256 AS lum
          |  FROM g),
          |sig AS (SELECT a.id,
          |    CAST(sum(CASE WHEN b.lum > a.lum THEN
          |      CASE WHEN a.gy * 8 + a.gx = 63 THEN (-9223372036854775807 - 1)
          |           ELSE (1::BIGINT << CAST(a.gy * 8 + a.gx AS INT)) END
          |      ELSE 0 END) AS BIGINT) AS sig
          |  FROM lum a JOIN lum b ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 GROUP BY 1)
          |SELECT a.id AS a_id, b.id AS b_id,
          |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          |FROM sig a JOIN sig b ON a.id < b.id
          |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
      // the decoded-frame sums of a REAL container-parse + per-frame PNG
      // decode roundtrip, recomputed from the closed-form (id, frame, x, y)
      // pixel formula; every 9th payload truncated below header size must
      // be absent — the corrupt-drop contract in the oracle itself
      "video_stats" ->
        """WITH v AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS BIGINT) AS nf,
          |    CAST(doc_id % 8 + 12 AS INT) AS w, CAST(doc_id % 6 + 10 AS INT) AS h
          |  FROM documents WHERE doc_id % 9 <> 0),
          |px AS (SELECT doc_id, nf, w, h, f.range AS f, x.range AS x, y.range AS y
          |  FROM v, range(0, 7) f, range(0, 20) x, range(0, 16) y
          |  WHERE f.range < nf AND x.range < w AND y.range < h)
          |SELECT doc_id AS item_id, nf AS n_frames, w AS width, h AS height,
          |  CAST(sum((((x * 2654435761 + y * 40503001 + 11) % 65536) *
          |    ((doc_id * 1099087573 + f * 668265263) % 65521 + 3) // 256) % 256)
          |    AS BIGINT) AS sum_r,
          |  CAST(sum((((x * 2246822519 + y * 2654435761 + 7) % 65536) *
          |    ((doc_id * 97002721 + f * 40503001) % 65521 + 5) // 256) % 256)
          |    AS BIGINT) AS sum_g,
          |  CAST(sum((((x * 3266489917 + y * 97002721 + 13) % 65536) *
          |    ((doc_id * 2246822519 + f * 2654435761) % 65521 + 7) // 256) % 256)
          |    AS BIGINT) AS sum_b
          |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,
      // the 65-window energy envelope of REAL WAV decodes replayed
      // arithmetically — window of sample i is the bounds-partition
      // inverse (65i+64)//n, half-volume twins truncate toward zero like
      // the JVM's integer division — then the all-pairs hamming join;
      // corrupt originals (doc_id%10=0) excluded BY the oracle
      "audio_neardup" ->
        """WITH pop AS (
          |  SELECT doc_id AS id, doc_id AS src, 1 AS hv FROM documents
          |  WHERE doc_id % 10 <> 0
          |  UNION ALL SELECT doc_id + 10000000, doc_id, 1 FROM documents
          |  WHERE doc_id % 7 = 0
          |  UNION ALL SELECT doc_id + 20000000, doc_id, 2 FROM documents
          |  WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
          |sm AS (SELECT id, hv, CAST((src % 7) * 65 + 130 AS BIGINT) AS n, i.range AS i,
          |    ((i.range * 2654435761 + 11) % 65536) *
          |      ((src * 1099087573) % 65521 + 3) // 16 % 65536 - 32768 AS s0
          |  FROM pop, range(0, 520) i WHERE i.range < (src % 7) * 65 + 130),
          |sv AS (SELECT id, n, i,
          |    CASE WHEN hv = 1 THEN s0 WHEN s0 >= 0 THEN s0 // 2
          |         ELSE -((-s0) // 2) END AS s
          |  FROM sm),
          |en AS (SELECT id, CAST((65 * i + 64) // n AS INT) AS w,
          |    CAST(sum(abs(s)) AS BIGINT) AS e
          |  FROM sv GROUP BY 1, 2),
          |sig AS (SELECT a.id,
          |    CAST(sum(CASE WHEN b.e > a.e THEN
          |      CASE WHEN a.w = 63 THEN (-9223372036854775807 - 1)
          |           ELSE (1::BIGINT << a.w) END ELSE 0 END) AS BIGINT) AS sig
          |  FROM en a JOIN en b ON a.id = b.id AND b.w = a.w + 1
          |  WHERE a.w < 64 GROUP BY 1)
          |SELECT a.id AS a_id, b.id AS b_id,
          |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          |FROM sig a JOIN sig b ON a.id < b.id
          |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
      // the decoded-sample stats of a REAL WAV encode→decode roundtrip,
      // recomputed from the closed-form integer signal (WAV PCM16 is
      // lossless, so decoded samples must equal the generator arithmetic);
      // every 10th payload is truncated below header size and must be
      // absent — the corrupt-drop contract in the oracle itself
      "audio_stats" ->
        """WITH d AS (SELECT doc_id, CAST((doc_id % 7) * 65 + 130 AS BIGINT) AS n,
          |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
          |  FROM documents WHERE doc_id % 10 <> 0),
          |sm AS (SELECT doc_id, n, sample_rate,
          |    ((i.range * 2654435761 + 11) % 65536) *
          |      ((doc_id * 1099087573) % 65521 + 3) // 16 % 65536 - 32768 AS v
          |  FROM d, range(0, 520) i WHERE i.range < n)
          |SELECT doc_id AS item_id, sample_rate, n AS n_samples,
          |  CAST(sum(v) AS BIGINT) AS sum_val,
          |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
          |  CAST(max(abs(v)) AS BIGINT) AS max_abs
          |FROM sm GROUP BY 1, 2, 3""".stripMargin,
      // n_with_k counts rows whose props ACTUALLY carry k (the Spark side's
      // count(col) semantics), and TRY_CAST keeps a malformed row a NULL
      // instead of an oracle crash — so the twins agree beyond the current
      // every-row-has-k data invariant
      "events_json_extract" ->
        """SELECT event_type,
          |  CAST(sum(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
          |  count(*) FILTER (WHERE regexp_matches(props, '"k": (\d+)')) AS n_with_k
          |FROM events GROUP BY 1""".stripMargin,
      "events_windowed" ->
        """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
          |  count(*) AS n_events,
          |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS total_value
          |FROM events GROUP BY 1, 2""".stripMargin,
      // the chained-agg + in-row comparator sort equals a row_number over
      // (n desc, event_type) — deterministic ties, replayed as the window
      "events_topk_windowed" ->
        """WITH c AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
          |    event_type, count(*) AS n FROM events GROUP BY 1, 2),
          |r AS (SELECT window_start_us, event_type, n,
          |  row_number() OVER (PARTITION BY window_start_us
          |    ORDER BY n DESC, event_type) AS rank FROM c)
          |SELECT window_start_us, CAST(rank AS INT) AS rank, event_type, n
          |FROM r WHERE rank <= 3""".stripMargin,
      "events_sessions" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
          |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us)
          |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
          |    THEN 1 ELSE 0 END AS news FROM e),
          |sids AS (SELECT *, sum(news) OVER (PARTITION BY user_id
          |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g)
          |SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
          |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS total_value
          |FROM sids GROUP BY user_id, sid""".stripMargin,
      // mean-pool replay: identical floor-quantization, integer per-dim
      // sums, one division per dimension
      "embedding_mean_pool" ->
        """WITH e AS (SELECT label, unnest(embedding) AS x,
          |    generate_subscripts(embedding, 1) AS dim1 FROM embeddings),
          |q AS (SELECT label, dim1 - 1 AS dim,
          |    CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS qq FROM e),
          |g AS (SELECT label, dim, sum(qq) AS s, count(qq) AS n
          |  FROM q GROUP BY 1, 2),
          |nv AS (SELECT label, max(n) AS n_vecs FROM g GROUP BY label)
          |SELECT g.label, CAST(nv.n_vecs AS BIGINT) AS n_vecs, g.dim,
          |  round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1024.0), 6)
          |    AS mean_component
          |FROM g JOIN nv USING (label)""".stripMargin,
      // correlation replay: identical exact decimal moment sums in ONE
      // pass, then the same single IEEE step per pair (generated from the
      // same pair list as the Spark side — the oracle cannot drift)
      // Spearman replay: doubled average ranks per column via global
      // rank/count windows (2*rank + ties - 1 == 2*below + ties + 1), then
      // the IDENTICAL moment chain as column_correlations over the ranks
      "spearman_correlations" -> {
        val cc = Seq("q", "ep", "disc", "tax")
        val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
          yield (cc(i), cc(j))
        def dd(c: String) = s"CAST($c AS DECIMAL(38,0))"
        val sums = cc.flatMap(c => Seq(
          s"sum(${dd(c)}) AS s_$c",
          s"sum(${dd(c)} * ${dd(c)}) AS ss_$c")) ++
          cPairs.map { case (a, b) => s"sum(${dd(a)} * ${dd(b)}) AS p_${a}_$b" }
        val rankCols = cc.map(c =>
          s"2 * rank() OVER (ORDER BY $c) + count(*) OVER (PARTITION BY $c) - 1 AS $c")
        val branches = cPairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
             |  CASE WHEN CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
             |            CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE) = 0 THEN NULL
             |  ELSE round(CAST(nn * p_${a}_$b - s_$a * s_$b AS DOUBLE) /
             |    sqrt(CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
             |         CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE)), 6)
             |  END AS rho FROM a""".stripMargin
        }
        s"""WITH f AS (SELECT
           |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
           |  CAST(round(l_extendedprice * 100) AS BIGINT) AS ep,
           |  CAST(round(l_discount * 100) AS BIGINT) AS disc,
           |  CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem),
           |g AS (SELECT ${rankCols.mkString(",\n  ")} FROM f),
           |a AS (SELECT count(*) AS n, CAST(count(*) AS DECIMAL(38,0)) AS nn,
           |  ${sums.mkString(",\n  ")} FROM g)
           |${branches.mkString("\nUNION ALL\n")}""".stripMargin
      },
      // pairwise-complete Spearman replay: per pair, ranks computed over
      // exactly the both-non-null rows (the same doubled-average-rank
      // identity), then the identical per-pair moment chain — the planted
      // missingness (ep: every 3rd order, disc: every 5th) makes per-pair
      // n genuinely differ, so a listwise engine cannot fake this oracle
      "spearman_pairwise" -> {
        val cc = Seq("q", "ep", "disc", "tax")
        val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
          yield (cc(i), cc(j))
        val branches = cPairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
             |  CASE WHEN n = 0 OR
             |    CAST(nn * sxx - sx * sx AS DOUBLE) *
             |    CAST(nn * syy - sy * sy AS DOUBLE) = 0 THEN NULL
             |  ELSE round(CAST(nn * sxy - sx * sy AS DOUBLE) /
             |    sqrt(CAST(nn * sxx - sx * sx AS DOUBLE) *
             |         CAST(nn * syy - sy * sy AS DOUBLE)), 6)
             |  END AS rho FROM (
             |  SELECT count(*) AS n, CAST(count(*) AS DECIMAL(38,0)) AS nn,
             |    sum(dx) AS sx, sum(dx * dx) AS sxx,
             |    sum(dy) AS sy, sum(dy * dy) AS syy,
             |    sum(dx * dy) AS sxy
             |  FROM (SELECT
             |    CAST(2 * rank() OVER (ORDER BY $a)
             |      + count(*) OVER (PARTITION BY $a) - 1
             |      AS DECIMAL(38,0)) AS dx,
             |    CAST(2 * rank() OVER (ORDER BY $b)
             |      + count(*) OVER (PARTITION BY $b) - 1
             |      AS DECIMAL(38,0)) AS dy
             |    FROM f WHERE $a IS NOT NULL AND $b IS NOT NULL) r) agg_$a$b""".stripMargin
        }
        s"""WITH f AS (SELECT
           |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
           |  CASE WHEN l_orderkey % 3 = 0 THEN NULL
           |    ELSE CAST(round(l_extendedprice * 100) AS BIGINT) END AS ep,
           |  CASE WHEN l_orderkey % 5 = 0 THEN NULL
           |    ELSE CAST(round(l_discount * 100) AS BIGINT) END AS disc,
           |  CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem)
           |${branches.mkString("\nUNION ALL\n")}""".stripMargin
      },
      // Kendall τ-b replay: the identical pair-melt → cell-count → dense
      // marginal grid → 2-D dominance prefix (two cumulative windows)
      // chain — every concordant/discordant/tie count an exact HUGEINT,
      // τ-b the same two-cast/multiply/sqrt/divide/round-6 IEEE tree;
      // the planted linenumber missingness (every 5th order) makes the
      // per-pair n differ, so a listwise replay cannot fake this oracle
      "kendall_tau" -> {
        val cc = Seq("q", "disc", "tax", "ln")
        val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
          yield (cc(i), cc(j))
        val melt = cPairs.map { case (a, b) =>
          s"""SELECT '$a' AS cx, '$b' AS cy, $a AS vx, $b AS vy
             |  FROM f WHERE $a IS NOT NULL AND $b IS NOT NULL""".stripMargin
        }
        s"""WITH f AS (SELECT
           |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
           |  CAST(round(l_discount * 100) AS BIGINT) AS disc,
           |  CAST(round(l_tax * 100) AS BIGINT) AS tax,
           |  CASE WHEN l_orderkey % 5 = 0 THEN NULL
           |    ELSE CAST(l_linenumber AS BIGINT) END AS ln FROM lineitem),
           |pr AS MATERIALIZED (
           |${melt.mkString("\nUNION ALL\n")}),
           |cells AS MATERIALIZED (
           |  SELECT cx, cy, vx, vy, CAST(count(*) AS HUGEINT) AS o
           |  FROM pr GROUP BY 1, 2, 3, 4),
           |xm AS MATERIALIZED (
           |  SELECT cx, cy, vx, CAST(sum(o) AS HUGEINT) AS rt
           |  FROM cells GROUP BY 1, 2, 3),
           |ym AS MATERIALIZED (
           |  SELECT cx, cy, vy, CAST(sum(o) AS HUGEINT) AS ct
           |  FROM cells GROUP BY 1, 2, 3),
           |grid AS MATERIALIZED (
           |  SELECT xm.cx, xm.cy, xm.vx, ym.vy, xm.rt,
           |    CAST(coalesce(cells.o, 0) AS HUGEINT) AS nij
           |  FROM xm JOIN ym ON xm.cx = ym.cx AND xm.cy = ym.cy
           |  LEFT JOIN cells ON cells.cx = xm.cx AND cells.cy = xm.cy
           |    AND cells.vx = xm.vx AND cells.vy = ym.vy),
           |d1 AS (SELECT cx, cy, vx, vy, rt, nij,
           |    sum(nij) OVER (PARTITION BY cx, cy, vx ORDER BY vy
           |      ROWS UNBOUNDED PRECEDING) AS rc
           |  FROM grid),
           |d2 AS MATERIALIZED (SELECT *,
           |    sum(rc)  OVER wc AS p,
           |    sum(nij) OVER wc AS cc2,
           |    sum(rt)  OVER wc AS xt
           |  FROM d1 WINDOW wc AS (PARTITION BY cx, cy, vy ORDER BY vx
           |    ROWS UNBOUNDED PRECEDING)),
           |g AS (SELECT cx, cy, CAST(sum(nij) AS HUGEINT) AS n,
           |    sum(nij * (p - rc - cc2 + nij)) AS c,
           |    sum(nij * ((xt - rt) - (p - rc))) AS d,
           |    sum((nij * (nij - 1)) // 2) AS tb
           |  FROM d2 GROUP BY 1, 2),
           |t1 AS (SELECT cx, cy, sum((rt * (rt - 1)) // 2) AS t1
           |  FROM xm GROUP BY 1, 2),
           |t2 AS (SELECT cx, cy, sum((ct * (ct - 1)) // 2) AS t2
           |  FROM ym GROUP BY 1, 2)
           |SELECT g.cx AS col_x, g.cy AS col_y, CAST(n AS BIGINT) AS n,
           |  CAST(c AS BIGINT) AS concordant,
           |  CAST(d AS BIGINT) AS discordant,
           |  CAST(t1 AS BIGINT) AS tied_x, CAST(t2 AS BIGINT) AS tied_y,
           |  CAST(tb AS BIGINT) AS tied_both,
           |  CASE WHEN n < 2 OR
           |    CAST((n * (n - 1)) // 2 - t1 AS DOUBLE) *
           |    CAST((n * (n - 1)) // 2 - t2 AS DOUBLE) = 0 THEN NULL
           |  ELSE round(CAST(c - d AS DOUBLE) /
           |    sqrt(CAST((n * (n - 1)) // 2 - t1 AS DOUBLE) *
           |         CAST((n * (n - 1)) // 2 - t2 AS DOUBLE)), 6)
           |  END AS tau_b
           |FROM g JOIN t1 ON t1.cx = g.cx AND t1.cy = g.cy
           |JOIN t2 ON t2.cx = g.cx AND t2.cy = g.cy""".stripMargin
      },
      "column_correlations" -> {
        val cc = Seq("q", "ep", "disc", "tax")
        val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
          yield (cc(i), cc(j))
        def dd(c: String) = s"CAST($c AS DECIMAL(38,0))"
        val sums = cc.flatMap(c => Seq(
          s"sum(${dd(c)}) AS s_$c",
          s"sum(${dd(c)} * ${dd(c)}) AS ss_$c")) ++
          cPairs.map { case (a, b) => s"sum(${dd(a)} * ${dd(b)}) AS p_${a}_$b" }
        val branches = cPairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
             |  CASE WHEN CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
             |            CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE) = 0 THEN NULL
             |  ELSE round(CAST(nn * p_${a}_$b - s_$a * s_$b AS DOUBLE) /
             |    sqrt(CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
             |         CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE)), 6)
             |  END AS corr FROM a""".stripMargin
        }
        s"""WITH f AS (SELECT
           |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
           |  CAST(round(l_extendedprice * 100) AS BIGINT) AS ep,
           |  CAST(round(l_discount * 100) AS BIGINT) AS disc,
           |  CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem),
           |a AS (SELECT count(*) AS n, CAST(count(*) AS DECIMAL(38,0)) AS nn,
           |  ${sums.mkString(",\n  ")} FROM f)
           |${branches.mkString("\nUNION ALL\n")}""".stripMargin
      },
      // step-decay replay in pure integer arithmetic: k half-lives from
      // the integer microsecond delta, weight 2^(40-k) exact in decimal,
      // one decimal->double conversion + one division by the exact
      // constant 2^40 (a pure exponent shift) at the very end
      "decayed_features" ->
        s"""WITH $decayedCtes
           |SELECT user_id, n_events, decayed_sum FROM rec""".stripMargin,
      "rolling_features" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |  count(*) OVER w AS n_7d,
          |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) OVER w AS BIGINT) AS value_7d
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin,
      "event_attribution" ->
        """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          |           WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, epoch_us(ts) AS ts_us,
          |        CAST(round(value * 10000) AS BIGINT) AS v FROM events
          |      WHERE event_type = 'click')
          |SELECT p.event_id, p.user_id, p.ts_us,
          |  count(c.ts_us) AS n_clicks_1h,
          |  CAST(coalesce(sum(c.v), 0) AS BIGINT) AS click_value_1h
          |FROM p LEFT JOIN c ON c.user_id = p.user_id
          |  AND c.ts_us >= p.ts_us - 3600000000 AND c.ts_us < p.ts_us
          |GROUP BY 1, 2, 3""".stripMargin,
      // the full serving chain replayed from the SAME fragments as its
      // parts: PIT pick (pitCtes) + fixed-cutoff decayed recency
      // (decayedCtes) + SCD2 regime containment-attach (scd2Ctes)
      "pipeline_feature_serve" ->
        s"""WITH $entCte, $evCte, $pitCtes, $decayedCtes, $scd2Ctes,
           |att AS (
           |  SELECT p.user_id, p.ent_us, s.event_type AS regime_event_type,
           |         s.valid_from_us AS regime_since_us
           |  FROM pit p LEFT JOIN scd s ON s.user_id = p.user_id
           |    AND s.valid_from_us <= p.ent_us
           |    AND (s.valid_to_us IS NULL OR p.ent_us < s.valid_to_us))
           |SELECT p.user_id, p.ent_us AS event_timestamp_us,
           |       p.feat_value, p.feat_event_type,
           |       r.n_events, r.decayed_sum,
           |       a.regime_event_type, a.regime_since_us
           |FROM pit p
           |LEFT JOIN rec r ON r.user_id = p.user_id
           |LEFT JOIN att a ON a.user_id = p.user_id AND a.ent_us = p.ent_us""".stripMargin,
      // the PLAIN join — the salted plan must be row-identical to it
      "skew_salted_join" ->
        """WITH ev AS (SELECT event_id,
          |    CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS uid,
          |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |dim AS (SELECT uid, count(*) AS n_u, CAST(sum(v) AS BIGINT) AS sum_u
          |  FROM ev GROUP BY 1)
          |SELECT e.event_id, e.uid, e.v, d.n_u, d.sum_u
          |FROM ev e JOIN dim d USING (uid)""".stripMargin,
      // the sketch-planned join's rows ARE the plain join's rows — the
      // strategy decision (salted here) only changes the physical plan
      "planned_join" ->
        """WITH raw AS (SELECT event_id,
          |    CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS uid,
          |    event_type,
          |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |ev AS (SELECT event_id, uid, v FROM raw),
          |dim AS (SELECT uid, event_type, count(*) AS n_ut,
          |    CAST(sum(v) AS BIGINT) AS sum_ut
          |  FROM raw GROUP BY 1, 2)
          |SELECT e.event_id, e.uid, e.v, d.event_type, d.n_ut, d.sum_ut
          |FROM ev e JOIN dim d USING (uid)""".stripMargin,
      "text_pii_redact" ->
        s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
           |    THEN text || ' contact u' || CAST(doc_id AS VARCHAR) ||
           |         '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
           |    ELSE text END AS text FROM documents),
           |e AS (SELECT doc_id, text,
           |  regexp_replace(text, '${TextAnalysis.emailRe}', '<EMAIL>', 'g') AS t_email
           |  FROM d)
           |SELECT doc_id,
           |  len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) AS n_emails,
           |  len(regexp_extract_all(t_email, '${TextAnalysis.ipv4Re}')) AS n_ips,
           |  md5(regexp_replace(t_email, '${TextAnalysis.ipv4Re}', '<IP>', 'g')) AS redacted_fp
           |FROM e""".stripMargin,
      // v2: the staged pass chain replayed with DuckDB list functions; the
      // Luhn sum is the same right-anchored integer recurrence Spark runs
      "text_pii_redact_v2" ->
        s"""WITH d AS (SELECT doc_id, CASE
           |    WHEN doc_id % 11 = 0 THEN text || ' card 4111 1111 1111 1111 ok'
           |    WHEN doc_id % 11 = 1 THEN text || ' card 4111 1111 1111 1112 bad'
           |    WHEN doc_id % 11 = 2 THEN text || ' pay 5555-5555-5555-4444 now'
           |    WHEN doc_id % 11 = 3 THEN text || ' amex 378282246310005 billed'
           |    WHEN doc_id % 11 = 4 THEN text || ' iban DE89370400440532013000 wired'
           |    WHEN doc_id % 11 = 5 THEN text || ' call +44 20 7946 0958 today'
           |    WHEN doc_id % 11 = 6 THEN text || ' call (415) 555-2671 today'
           |    WHEN doc_id % 11 = 7 THEN text || ' fax 555-123-4567 attn'
           |    WHEN doc_id % 11 = 8 THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
           |      || '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
           |    WHEN doc_id % 11 = 9 THEN text || ' order 1234567890123456 shipped'
           |    WHEN doc_id % 11 = 10 THEN text || ' code DE89370400440532013001 rejected'
           |    ELSE text END AS t0 FROM documents),
           |s1 AS (SELECT doc_id, t0,
           |    regexp_replace(t0, '${TextAnalysis.emailRe}', '<EMAIL>', 'g') AS t1 FROM d),
           |i1 AS (SELECT *, regexp_split_to_array(t1, '${TextAnalysis.ibanRe}') AS ib_parts,
           |    regexp_extract_all(t1, '${TextAnalysis.ibanRe}') AS ib_raw FROM s1),
           |i2 AS (SELECT *,
           |    list_transform(list_transform(ib_raw, m -> substr(m, 5) || substr(m, 1, 4)),
           |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           |        list_transform(range(1, length(s) + 1),
           |          i -> CAST(CASE WHEN s[i] BETWEEN '0' AND '9'
           |               THEN 10 * 1024 + ascii(s[i]) - 48
           |               ELSE 100 * 1024 + ascii(s[i]) - 55 END AS BIGINT))),
           |        (acc, e) -> (acc * (e // 1024) + e % 1024) % 97) = 1) AS ib_ok FROM i1),
           |s2 AS (SELECT *, array_to_string(list_transform(range(1, len(ib_parts) + 1),
           |    i -> ib_parts[i] ||
           |      coalesce(CASE WHEN ib_ok[i] THEN '<IBAN>' ELSE ib_raw[i] END, '')),
           |    '') AS t2 FROM i2),
           |s3 AS (SELECT *, regexp_replace(t2, '${TextAnalysis.phoneRe}', '<PHONE>', 'g') AS t3 FROM s2),
           |s4 AS (SELECT *,
           |    regexp_split_to_array(t3, '${TextAnalysis.cardRe}') AS parts,
           |    regexp_extract_all(t3, '${TextAnalysis.cardRe}') AS raw FROM s3),
           |s5 AS (SELECT *,
           |    list_transform(list_transform(raw, m -> regexp_replace(m, '[ -]', '', 'g')),
           |      s -> (list_sum(list_transform(range(1, length(s) + 1),
           |        i -> CASE WHEN (length(s) - i) % 2 = 1
           |             THEN CASE WHEN (ascii(s[i]) - 48) * 2 > 9
           |                  THEN (ascii(s[i]) - 48) * 2 - 9
           |                  ELSE (ascii(s[i]) - 48) * 2 END
           |             ELSE ascii(s[i]) - 48 END)) % 10 = 0)) AS ok FROM s4),
           |s6 AS (SELECT *,
           |    array_to_string(list_transform(range(1, len(parts) + 1),
           |      i -> parts[i] || coalesce(CASE WHEN ok[i] THEN '<CARD>' ELSE raw[i] END, '')),
           |      '') AS t4 FROM s5),
           |s7 AS (SELECT *, regexp_replace(t4, '${TextAnalysis.ipv4Re}', '<IP>', 'g') AS t5 FROM s6)
           |SELECT doc_id,
           |  len(regexp_extract_all(t0, '${TextAnalysis.emailRe}')) AS n_emails,
           |  len(list_filter(ib_ok, x -> x)) AS n_ibans,
           |  len(ib_ok) - len(list_filter(ib_ok, x -> x)) AS n_ibans_rejected,
           |  len(regexp_extract_all(t2, '${TextAnalysis.phoneRe}')) AS n_phones,
           |  len(list_filter(ok, x -> x)) AS n_cards,
           |  len(ok) - len(list_filter(ok, x -> x)) AS n_cards_rejected,
           |  len(regexp_extract_all(t4, '${TextAnalysis.ipv4Re}')) AS n_ips,
           |  md5(t5) AS redacted_fp
           |FROM s7""".stripMargin,
      // same md5 bucket rule as sample_hash, cut into consecutive ranges
      "split_buckets" ->
        """WITH b AS (SELECT doc_id, source,
          |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
          |    % 100 AS bk
          |  FROM documents WHERE doc_id IS NOT NULL)
          |SELECT doc_id, source,
          |  CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM b""".stripMargin,
      // exact per-stratum counts: same deterministic shuffle, same
      // cumulative-floor boundaries
      "split_exact" ->
        """WITH r AS (SELECT doc_id, lang,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
          |    count(*) OVER (PARTITION BY lang) AS n
          |  FROM documents WHERE doc_id IS NOT NULL)
          |SELECT doc_id, lang,
          |  CASE WHEN rn <= (n * 80) // 100 THEN 'train'
          |       WHEN rn <= (n * 90) // 100 THEN 'val' ELSE 'test' END AS split
          |FROM r""".stripMargin,
      "sample_hash" ->
        """SELECT doc_id, lang, source FROM documents
          |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
          |      % 100 < 10""".stripMargin,
      // DSIR replay end-to-end: bigram features → md5 buckets → target/raw
      // bucket counts → add-1 fixed-point probability ratio (HUGEINT
      // products, one integral division) → per-doc mean → deterministic
      // top-100 by (imp_q DESC, md5(doc_id), doc_id)
      "dsir_select" ->
        s"""WITH $toksCte,
           |tp AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM t),
           |fb AS (SELECT doc_id,
           |  CAST(concat('0x', substr(md5(pair), 1, 6)) AS BIGINT) % 1024 AS b FROM tp),
           |tgt AS (SELECT fb.b FROM fb JOIN documents d USING (doc_id)
           |  WHERE d.lang = 'en'),
           |tc AS (SELECT b, count(*) AS c_t FROM tgt GROUP BY b),
           |rc AS (SELECT b, count(*) AS c_r FROM fb GROUP BY b),
           |tot AS (SELECT (SELECT count(*) FROM tgt) AS t_total,
           |  (SELECT count(*) FROM fb) AS r_total),
           |q AS (SELECT fb.doc_id,
           |  CAST((CAST(coalesce(tc.c_t, 0) + 1 AS HUGEINT)
           |      * (tot.r_total + 1024) * 1048576)
           |    // (CAST(coalesce(rc.c_r, 0) + 1 AS HUGEINT)
           |      * (tot.t_total + 1024)) AS BIGINT) AS q
           |  FROM fb LEFT JOIN tc USING (b) LEFT JOIN rc USING (b), tot),
           |agg AS (SELECT d.doc_id, CAST(count(q.q) AS BIGINT) AS n_feats,
           |  CAST(coalesce(sum(q.q), 0) AS BIGINT) AS imp_sum
           |  FROM documents d LEFT JOIN q USING (doc_id) GROUP BY d.doc_id)
           |SELECT doc_id, n_feats, imp_sum,
           |  CAST(CASE WHEN n_feats = 0 THEN NULL
           |       ELSE imp_sum // n_feats END AS BIGINT) AS imp_q
           |FROM agg
           |ORDER BY imp_q DESC NULLS LAST, md5(CAST(doc_id AS VARCHAR)), doc_id
           |LIMIT 100""".stripMargin,
      // the two-phase cumulative sum replayed as one ordered window: same
      // (q desc, md5-sub, id) total order, same inclusive prefix rule
      "select_budget" ->
        """WITH d AS (SELECT doc_id, (doc_id * 7) % 101 AS q, n_chars,
          |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) AS sub
          |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
          |c AS (SELECT doc_id, q, n_chars,
          |    CAST(sum(n_chars) OVER (ORDER BY q DESC, sub, doc_id
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          |  FROM d)
          |SELECT doc_id, q, n_chars, cum_tokens FROM c
          |WHERE cum_tokens <= 1000000""".stripMargin,
      "filter_blocklist" ->
        "SELECT doc_id, source FROM documents WHERE source NOT IN ('src3', 'src7', 'src11')",
      // Exact replica of Dedup.decontaminate: distinct word-3-grams per doc,
      // benchmark gram set = docs with doc_id % 97 = 0, hit counting via the
      // same left join + filter.
      "decontaminate" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |sh AS (SELECT doc_id,
          |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 3
          |    THEN list_transform(range(1, len(toks) - 1),
          |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |    ELSE [array_to_string(toks, ' ')] END) AS sh
          |  FROM t),
          |cg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
          |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0)
          |SELECT c.doc_id AS id,
          |  CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit_grams,
          |  count(*) AS n_grams
          |FROM cg c LEFT JOIN bg b ON c.g = b.g
          |GROUP BY c.doc_id
          |HAVING n_hit_grams >= 1""".stripMargin,
      "chunk_documents" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |nz AS (SELECT * FROM t WHERE len(toks) > 0),
          |st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS s FROM nz)
          |SELECT doc_id AS id,
          |  CAST((s - 1) / 24 AS INT) AS chunk_id,
          |  array_to_string(toks[s:s+31], ' ') AS chunk_text,
          |  CAST(least(32, len(toks) - s + 1) AS INT) AS n_chunk_tokens
          |FROM st""".stripMargin,
      "top_ngram_stats" ->
        """WITH t AS (SELECT doc_id, length(text) AS n_chars,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |g AS (SELECT doc_id, n_chars, unnest(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    WHEN len(toks) >= 2
          |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
          |    ELSE [array_to_string(toks, ' ')] END) AS gram FROM t),
          |c AS (SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
          |r AS (SELECT *,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn,
          |  sum(cnt) OVER (PARTITION BY doc_id) AS n_grams FROM c)
          |SELECT doc_id AS id, gram AS top_ngram, CAST(cnt AS BIGINT) AS top_count,
          |  CAST(n_grams AS BIGINT) AS n_grams,
          |  round(cnt * length(gram) / greatest(CAST(n_chars AS DOUBLE), 1.0), 6)
          |    AS top_char_fraction
          |FROM r WHERE rn = 1""".stripMargin,
      "dedup_against" ->
        """SELECT doc_id, lang, source FROM documents
          |WHERE lower(trim(text)) NOT IN
          |  (SELECT lower(trim(text)) FROM documents WHERE doc_id % 3 = 0)""".stripMargin,
      // substring-window dedup: plant the fixed run behind varying pad
      // offsets, slide 12-token windows at stride 6 (+ tail window), keep
      // the corpus-wide first occurrence of each distinct window content
      // (row_number over (doc_id, p)), expand surviving (start, len)
      // intervals to covered token indices, reassemble
      "dedup_windows" ->
        s"""WITH $windowDedupCtes
           |SELECT doc_id, text_dedup, n_tokens, n_kept FROM fin""".stripMargin,
      // CDC replay: rolling-hash boundaries (md5-prefix integer % 16 over
      // each 8-token window), chunk assembly between consecutive ends,
      // duplicate-content report — the prefix-insertion plant resyncs
      // incremental CDC: reference chunk digests vs the batch's chunks,
      // token-weighted dup ppm per batch doc; the zzz plant must resync
      "cdc_dedup_against" ->
        """WITH refd AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
          |bat AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
          |  UNION ALL SELECT doc_id + 300000, 'zzz ' || text
          |  FROM documents WHERE doc_id % 3 = 0),
          |rtk AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0) AS toks FROM refd),
          |rch AS (SELECT doc_id, toks, len(toks) AS n,
          |  list_filter(range(8, len(toks) + 1), i ->
          |    (CAST(concat('0x', substr(md5(array_to_string(
          |       list_slice(toks, i - 7, i), ' ')), 1, 8)) AS BIGINT) % 16) = 0)
          |    AS bpos
          |  FROM rtk WHERE len(toks) >= 1),
          |rce AS (SELECT doc_id, toks,
          |  CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
          |       ELSE list_append(bpos, n) END AS ends FROM rch),
          |rcx AS (SELECT doc_id,
          |    unnest(list_transform(range(1, len(ends) + 1), k ->
          |      struct_pack(
          |        ntk := ends[k] - (CASE WHEN k = 1 THEN 1
          |                               ELSE ends[k - 1] + 1 END) + 1,
          |        txt := array_to_string(list_slice(toks,
          |          CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
          |          ends[k]), ' ')))) AS c
          |  FROM rce),
          |rh AS (SELECT DISTINCT md5(c.txt) AS h FROM rcx),
          |btk AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0) AS toks FROM bat),
          |bch AS (SELECT doc_id, toks, len(toks) AS n,
          |  list_filter(range(8, len(toks) + 1), i ->
          |    (CAST(concat('0x', substr(md5(array_to_string(
          |       list_slice(toks, i - 7, i), ' ')), 1, 8)) AS BIGINT) % 16) = 0)
          |    AS bpos
          |  FROM btk WHERE len(toks) >= 1),
          |bce AS (SELECT doc_id, toks,
          |  CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
          |       ELSE list_append(bpos, n) END AS ends FROM bch),
          |bcx AS (SELECT doc_id,
          |    unnest(list_transform(range(1, len(ends) + 1), k ->
          |      struct_pack(
          |        ntk := ends[k] - (CASE WHEN k = 1 THEN 1
          |                               ELSE ends[k - 1] + 1 END) + 1,
          |        txt := array_to_string(list_slice(toks,
          |          CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
          |          ends[k]), ' ')))) AS c
          |  FROM bce),
          |br AS (SELECT doc_id, md5(c.txt) AS h,
          |    CAST(c.ntk AS BIGINT) AS ntk FROM bcx)
          |SELECT br.doc_id AS id, CAST(count(*) AS BIGINT) AS n_chunks,
          |  CAST(sum(ntk) AS BIGINT) AS n_tokens,
          |  CAST(sum(CASE WHEN rh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup_chunks,
          |  CAST(sum(CASE WHEN rh.h IS NOT NULL THEN ntk ELSE 0 END) AS BIGINT)
          |    AS n_dup_tokens,
          |  CAST(sum(CASE WHEN rh.h IS NOT NULL THEN ntk ELSE 0 END)
          |    * 1000000 // sum(ntk) AS BIGINT) AS dup_token_ppm
          |FROM br LEFT JOIN rh ON rh.h = br.h
          |GROUP BY br.doc_id""".stripMargin,
      "cdc_dup_chunks" ->
        """WITH u AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 200000, 'zzz ' || text FROM documents),
          |tk AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0) AS toks FROM u),
          |ch AS (SELECT doc_id, toks, len(toks) AS n,
          |  list_filter(range(8, len(toks) + 1), i ->
          |    (CAST(concat('0x', substr(md5(array_to_string(
          |       list_slice(toks, i - 7, i), ' ')), 1, 8)) AS BIGINT) % 16) = 0)
          |    AS bpos
          |  FROM tk WHERE len(toks) >= 1),
          |ce AS (SELECT doc_id, toks,
          |  CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
          |       ELSE list_append(bpos, n) END AS ends FROM ch),
          |cx AS (SELECT doc_id,
          |    unnest(list_transform(range(1, len(ends) + 1), k ->
          |      struct_pack(
          |        ntk := ends[k] - (CASE WHEN k = 1 THEN 1
          |                               ELSE ends[k - 1] + 1 END) + 1,
          |        txt := array_to_string(list_slice(toks,
          |          CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
          |          ends[k]), ' ')))) AS c
          |  FROM ce),
          |r AS (SELECT doc_id, md5(c.txt) AS chunk_hash,
          |    CAST(c.ntk AS INT) AS ntk FROM cx)
          |SELECT chunk_hash, min(ntk) AS n_tokens,
          |  CAST(count(*) AS BIGINT) AS n_occurrences,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  min(doc_id) AS first_id
          |FROM r GROUP BY chunk_hash HAVING count(*) > 1""".stripMargin,
      // incremental window dedup: reference (doc_id % 3 = 0) enumerates
      // k-grams at STRIDE 1 — containment at any offset — batch windows
      // die via NOT IN against that gram set, then batch-first arg-min
      // and the same interval reassembly, output batch docs only
      "dedup_windows_against" ->
        (s"""WITH $plantedToksCtes,
           |""".stripMargin +
          """rst AS (SELECT doc_id, n, unnest(
           |  CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
           |       WHEN n <= 12 THEN [CAST(0 AS BIGINT)]
           |       ELSE range(0, n - 11) END) AS p
           |  FROM sz WHERE doc_id % 3 = 0),
           |refg AS (SELECT DISTINCT
           |  array_to_string(sz.toks[rst.p + 1 : rst.p + least(12, rst.n)], ' ') AS g
           |  FROM rst JOIN sz USING (doc_id)),
           |bst AS (SELECT doc_id, n, unnest(
           |  CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
           |       WHEN n <= 12 THEN [CAST(0 AS BIGINT)]
           |       ELSE list_distinct(list_append(range(0, n - 11, 6),
           |         CAST(n - 12 AS BIGINT))) END) AS p
           |  FROM sz WHERE doc_id % 3 <> 0),
           |w AS (SELECT bst.doc_id, bst.p, least(12, bst.n) AS wlen,
           |  array_to_string(sz.toks[bst.p + 1 : bst.p + least(12, bst.n)], ' ') AS wtext
           |  FROM bst JOIN sz USING (doc_id)),
           |fr AS (SELECT * FROM w WHERE wtext NOT IN (SELECT g FROM refg)),
           |rn AS (SELECT doc_id, p, wlen,
           |  row_number() OVER (PARTITION BY wtext ORDER BY doc_id, p) AS rn FROM fr),
           |alive AS (SELECT doc_id, p, wlen FROM rn WHERE rn = 1),
           |iv AS (SELECT doc_id, unnest(range(p, p + wlen)) AS i FROM alive),
           |ki AS (SELECT DISTINCT doc_id, i FROM iv),
           |kept AS (SELECT ki.doc_id, ki.i, sz.toks[CAST(ki.i AS INT) + 1] AS tok
           |  FROM ki JOIN sz USING (doc_id)),
           |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_dedup,
           |  count(*) AS n_kept FROM kept GROUP BY doc_id)
           |SELECT sz.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
           |  CAST(sz.n AS BIGINT) AS n_tokens,
           |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
           |FROM sz LEFT JOIN agg USING (doc_id)
           |WHERE sz.doc_id % 3 <> 0""".stripMargin),
      // the composed cleaner: window-dedup THEN exact-collapse of the
      // CLEANED text — the smallest doc_id per distinct cleaned text wins,
      // n_dups counts the collapse (all fully-deduplicated docs share '')
      "pipeline_substring_dedup" ->
        s"""WITH $windowDedupCtes,
           |ex AS (SELECT doc_id, n_kept,
           |  row_number() OVER (PARTITION BY lower(trim(text_dedup))
           |    ORDER BY doc_id) AS rn,
           |  count(*) OVER (PARTITION BY lower(trim(text_dedup))) AS n_dups
           |  FROM fin)
           |SELECT doc_id, CAST(n_dups AS BIGINT) AS n_dups, n_kept
           |FROM ex WHERE rn = 1""".stripMargin,
      // segment dedup: identical 12-token segments built from token
      // positions; first occurrence = row_number() over (doc_id, pos)
      "dedup_segments" ->
        s"""WITH $toksCte,
           |ex AS (SELECT doc_id, unnest(toks) AS tok,
           |  generate_subscripts(toks, 1) AS p FROM t),
           |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
           |  string_agg(tok, ' ' ORDER BY p) AS seg
           |  FROM ex GROUP BY doc_id, (p - 1) // 12),
           |rn AS (SELECT doc_id, pos, seg,
           |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM segs),
           |agg AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_dedup,
           |  count(*) AS n_kept FROM rn WHERE rn = 1 GROUP BY doc_id),
           |nseg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
           |  FROM segs GROUP BY doc_id)
           |SELECT t.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
           |  coalesce(nseg.n_segments, 0) AS n_segments,
           |  coalesce(agg.n_kept, 0) AS n_kept
           |FROM t LEFT JOIN nseg USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin,
      // per-source datasheet: pure integer counts + ONE division at the end;
      // digests aren't emitted, only distinct-counted, so the hex-casing of
      // sha256 never matters cross-engine
      "corpus_report" ->
        s"""WITH $toksCte,
           |dl AS (SELECT d.source,
           |  sha256(coalesce(lower(trim(d.text)), '')) AS dg,
           |  coalesce(len(t.toks), 0) AS nt, coalesce(length(d.text), 0) AS nc
           |  FROM documents d JOIN t USING (doc_id)),
           |base AS (SELECT source, count(*) AS n_docs,
           |  sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS n_empty_docs,
           |  count(DISTINCT dg) AS n_unique_docs,
           |  sum(nt) AS n_tokens, sum(nc) AS total_chars
           |  FROM dl GROUP BY source),
           |v AS (SELECT source, count(DISTINCT tok) AS n_distinct_tokens
           |  FROM (SELECT d.source, unnest(t.toks) AS tok
           |        FROM documents d JOIN t USING (doc_id)) GROUP BY source)
           |SELECT b.source, CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(n_empty_docs AS BIGINT) AS n_empty_docs,
           |  CAST(n_unique_docs AS BIGINT) AS n_unique_docs,
           |  CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(coalesce(n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
           |  CAST(total_chars AS BIGINT) AS total_chars,
           |  CAST(n_tokens AS DOUBLE) / n_docs AS avg_doc_tokens
           |FROM base b LEFT JOIN v ON b.source IS NOT DISTINCT FROM v.source""".stripMargin,
      // same segment synthesis, but keep-first runs PER DOC (partition by
      // doc_id, seg) — cross-doc repeats must survive
      "dedup_within_doc" ->
        s"""WITH $toksCte,
           |ex AS (SELECT doc_id, unnest(toks) AS tok,
           |  generate_subscripts(toks, 1) AS p FROM t),
           |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
           |  string_agg(tok, ' ' ORDER BY p) AS seg
           |  FROM ex GROUP BY doc_id, (p - 1) // 12),
           |rn AS (SELECT doc_id, pos, seg,
           |  row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS rn FROM segs),
           |agg AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_dedup,
           |  count(*) AS n_kept FROM rn WHERE rn = 1 GROUP BY doc_id),
           |nseg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
           |  FROM segs GROUP BY doc_id)
           |SELECT t.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
           |  coalesce(nseg.n_segments, 0) AS n_segments,
           |  coalesce(agg.n_kept, 0) AS n_kept
           |FROM t LEFT JOIN nseg USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin,
      "rare_token_stats" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |ex AS (SELECT doc_id, unnest(CASE WHEN len(toks) = 0
          |  THEN [CAST(NULL AS VARCHAR)] ELSE toks END) AS tok FROM t),
          |rare AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM ex
          |  WHERE tok IS NOT NULL GROUP BY tok) WHERE c <= 2)
          |SELECT e.doc_id AS id,
          |  count(e.tok) AS n_tokens,
          |  CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_rare_tokens,
          |  round(CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) /
          |    greatest(CAST(count(e.tok) AS DOUBLE), 1.0), 6) AS rare_fraction
          |FROM ex e LEFT JOIN rare r ON e.tok = r.tok
          |GROUP BY e.doc_id""".stripMargin,
      "sample_stratified" ->
        """SELECT doc_id, lang, source FROM documents
          |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
          |  < CASE WHEN lang = 'en' THEN 5 WHEN lang = 'de' THEN 40 ELSE 80 END""".stripMargin,
      "shard_layout" ->
        """WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS dg FROM documents),
          |s AS (SELECT doc_id, lang, dg,
          |  CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 8 AS INT) AS shard
          |  FROM d)
          |SELECT doc_id, lang, shard,
          |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, doc_id) - 1 AS BIGINT)
          |    AS position
          |FROM s""".stripMargin,
      // canonicalization replay: same messy-url synthesis, same regex
      // chain (DuckDB backrefs are \1 and need the 'g' flag; semantics
      // identical to Spark's $1 global replace)
      "url_canonicalize" ->
        """WITH u AS (SELECT doc_id,
          |  CASE WHEN doc_id % 3 = 0 THEN
          |    'HTTPS://NEWS.Example.CO.UK:443/Path/' || doc_id ||
          |    '?utm_source=feed&id=' || doc_id || '&utm_campaign=x#frag'
          |  WHEN doc_id % 3 = 1 THEN
          |    'http://blog.example.co.uk:80/p?id=' || doc_id || '&gclid=abc123'
          |  ELSE 'https://docs.sample.net/Q/' || doc_id || '?a=1&fbclid=zz&b=2'
          |  END AS url FROM documents),
          |p AS (SELECT doc_id,
          |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$', 1)) AS sch,
          |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$', 1)) AS auth,
          |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
          |  FROM u),
          |n AS (SELECT doc_id, sch,
          |  CASE WHEN sch = 'http' THEN regexp_replace(auth, ':80$', '')
          |       WHEN sch = 'https' THEN regexp_replace(auth, ':443$', '')
          |       ELSE auth END AS auth,
          |  regexp_replace(rest, '#.*$', '', 'g') AS nofrag
          |  FROM p),
          |s AS (SELECT doc_id, sch, auth,
          |  regexp_replace(nofrag, '\?.*$', '', 'g') AS path,
          |  regexp_extract(nofrag, '(\?.*)$', 1) AS query FROM n),
          |q AS (SELECT doc_id, sch, auth, path,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(
          |          regexp_replace(query,
          |            '([?&])(utm_[^&#=]*|gclid|fbclid)(=[^&#]*)?(&|$)', '\1\4', 'g'),
          |          '([?&])(utm_[^&#=]*|gclid|fbclid)(=[^&#]*)?(&|$)', '\1\4', 'g'),
          |        '&{2,}', '&', 'g'),
          |      '\?&', '?', 'g'),
          |    '[?&]$', '', 'g') AS cq
          |  FROM s)
          |SELECT doc_id, sch || '://' || auth || path || cq AS canonical_url FROM q""".stripMargin,
      // domain curation: same synthetic host pick, registrable-domain rule
      // replayed over labels (last-2, or last-3 behind a two-label public
      // suffix), blocklist drop, then the 40-smallest-md5-digest cap per
      // domain (the cap_per_group replay, keyed on domain)
      "domain_caps" ->
        """WITH u AS (SELECT doc_id, source,
          |  ['news.example.co.uk','blog.example.co.uk','www.spam.test',
          |   'cdn.spam.test','a.example.org','b.example.org',
          |   'docs.sample.net'][CAST(doc_id % 7 AS INT) + 1] AS host
          |  FROM documents),
          |d AS (SELECT doc_id, source,
          |  CASE WHEN len(string_split(host, '.')) <= 2 THEN host
          |       WHEN array_to_string(string_split(host, '.')[-2:], '.')
          |         IN ('co.uk','org.uk','gov.uk','ac.uk','com.au','co.jp')
          |         THEN array_to_string(string_split(host, '.')[-3:], '.')
          |       ELSE array_to_string(string_split(host, '.')[-2:], '.')
          |  END AS domain FROM u),
          |a AS (SELECT * FROM d WHERE domain <> 'spam.test')
          |SELECT doc_id, domain, source FROM (
          |  SELECT doc_id, domain, source,
          |    row_number() OVER (PARTITION BY domain
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM a)
          |WHERE rn <= 40""".stripMargin,
      // exact deterministic cap: the kept set is the 37 smallest md5
      // digests per language — row_number over the same (digest, key) order
      "cap_per_group" ->
        """SELECT doc_id, lang, source FROM (
          |  SELECT doc_id, lang, source,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 37""".stripMargin,
      // boilerplate strip: segments whose distinct-doc frequency exceeds 1
      // are removed from every carrier; rarer segments survive everywhere
      "strip_boilerplate" ->
        s"""WITH $toksCte,
           |ex AS (SELECT doc_id, unnest(toks) AS tok,
           |  generate_subscripts(toks, 1) AS p FROM t),
           |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
           |  string_agg(tok, ' ' ORDER BY p) AS seg
           |  FROM ex GROUP BY doc_id, (p - 1) // 12),
           |boiler AS (SELECT seg FROM (
           |  SELECT seg, count(DISTINCT doc_id) AS dfreq FROM segs GROUP BY seg)
           |  WHERE dfreq > 1),
           |keep AS (SELECT s.doc_id, s.pos, s.seg FROM segs s
           |  WHERE s.seg NOT IN (SELECT seg FROM boiler)),
           |agg AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_kept,
           |  count(*) AS n_kept FROM keep GROUP BY doc_id),
           |nseg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
           |  FROM segs GROUP BY doc_id)
           |SELECT t.doc_id, coalesce(agg.text_kept, '') AS text_kept,
           |  coalesce(nseg.n_segments, 0) AS n_segments,
           |  coalesce(agg.n_kept, 0) AS n_kept
           |FROM t LEFT JOIN nseg USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin,
      "corpus_quantiles" ->
        """SELECT lang, count(*) AS n_rows,
          |  quantile_cont(n_chars, 0.25) AS p25,
          |  quantile_cont(n_chars, 0.50) AS p50,
          |  quantile_cont(n_chars, 0.75) AS p75
          |FROM documents GROUP BY lang""".stripMargin,
      // the whole digest pick replayed: bottom-64 md5 priorities per lang,
      // rank-picked estimates, and a fingerprint over every register row
      "quantile_sketch" ->
        """WITH r AS (SELECT lang,
          |    md5('qsk14:' || CAST(doc_id AS VARCHAR)) AS priority,
          |    n_chars AS v,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5('qsk14:' || CAST(doc_id AS VARCHAR)), n_chars) AS rn
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL),
          |reg AS (SELECT lang, priority, v FROM r WHERE rn <= 64),
          |rk AS (SELECT lang, priority, v,
          |    row_number() OVER (PARTITION BY lang ORDER BY v, priority) AS rn,
          |    count(*) OVER (PARTITION BY lang) AS n FROM reg),
          |fp AS (SELECT lang, md5(string_agg(priority, ',' ORDER BY priority))
          |    AS registers_fp FROM reg GROUP BY lang),
          |q(q_ppm) AS (VALUES (250000), (500000), (750000))
          |SELECT rk.lang, q.q_ppm, rk.n AS n_sample, rk.v AS estimate,
          |  fp.registers_fp
          |FROM rk JOIN q ON rk.rn = q.q_ppm * (rk.n - 1) // 1000000 + 1
          |JOIN fp ON rk.lang = fp.lang""".stripMargin,
      // DuckDB's native ASOF JOIN is the oracle; the operator's tolerance is
      // a post-filter there (the nearest match being out of tolerance implies
      // no in-tolerance match exists — the predicate is monotone in ts).
      // Right-side timestamp ties are pre-collapsed to the greatest event_id
      // (identical to the operator's tieBreak), and no-match columns use the
      // same -1 sentinels as the Spark side.
      // TVD drift replay: melt both snapshots to (column, value) counts, the
      // full-outer category join, per-column totals via window, and the one
      // decimal→double division — everything before it exact integers
      "categorical_drift" ->
        s"""WITH ev AS (SELECT event_type,
           |  CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS value_band,
           |  epoch_us(ts) AS ts_us FROM events),
           |m AS (SELECT 'event_type' AS "column",
           |    coalesce(event_type, '<null>') AS value, ts_us FROM ev
           |  UNION ALL SELECT 'value_band', coalesce(value_band, '<null>'), ts_us FROM ev),
           |$tvdChainSql""".stripMargin,
      // ntile is rank-based over a TOTAL order (value, event_id), so the
      // bucket assignment — including how equal values split across the
      // boundary — is deterministic and the replay is row-exact
      "equi_depth_bins" ->
        """SELECT event_id, event_type, value,
          |  ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
          |FROM events WHERE value IS NOT NULL""".stripMargin,
      // numeric drift = the histogram bin arithmetic as the melt, then the
      // IDENTICAL shared TVD chain (one definition — cannot drift from the
      // categorical replay)
      "numeric_drift" ->
        s"""WITH ev AS (SELECT
           |  CASE WHEN value IS NULL THEN NULL ELSE
           |    CAST(CAST(least(greatest(floor((value - 0.0) / 20.0), 0.0), 24.0)
           |      AS BIGINT) AS VARCHAR) END AS value_bin,
           |  CASE WHEN user_id IS NULL THEN NULL ELSE
           |    CAST(CAST(least(greatest(floor((CAST(user_id AS DOUBLE) - 0.0) / 10.0),
           |      0.0), 19.0) AS BIGINT) AS VARCHAR) END AS user_bin,
           |  epoch_us(ts) AS ts_us FROM events),
           |m AS (SELECT 'value' AS "column",
           |    coalesce(value_bin, '<null>') AS value, ts_us FROM ev
           |  UNION ALL SELECT 'user_id', coalesce(user_bin, '<null>'), ts_us FROM ev),
           |$tvdChainSql""".stripMargin,
      // SCD2 replay: (key, ts) collapse to max value, drop no-op repeats via
      // lag, valid_to = lead over the SURVIVORS — all deterministic windows
      // the plain two-sided overlap join over the SAME scd fragment — the
      // grid cells and first-cell emit rule must be result-invisible
      "interval_overlap_join" ->
        s"""WITH $scd2Ctes,
           |l AS (SELECT user_id, event_type AS regime, valid_from_us,
           |  coalesce(valid_to_us, 1706745600000000) AS valid_to_us FROM scd),
           |r AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS w_start_us,
           |  epoch_us(ts) + 259200000000 AS w_end_us FROM events
           |  WHERE event_type = 'purchase')
           |SELECT l.user_id, r.purchase_id, l.regime, l.valid_from_us,
           |  l.valid_to_us, r.w_start_us, r.w_end_us
           |FROM l JOIN r ON l.user_id = r.user_id
           |  AND l.valid_from_us < r.w_end_us
           |  AND r.w_start_us < l.valid_to_us""".stripMargin,
      "scd2_intervals" ->
        s"""WITH $scd2Ctes
           |SELECT user_id, event_type, valid_from_us, valid_to_us FROM scd""".stripMargin,
      // gaps-and-islands replay: running max of earlier ends (ROWS ... 1
      // PRECEDING), island = running sum of new-island flags, then min/max
      // per (user, island) — deterministic because (s, e) is a total order
      // up to interchangeable duplicates
      "interval_flatten" ->
        s"""WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
           |    epoch_us(ts) + 129600000000 AS e FROM events
           |  WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL),
           |o AS (SELECT user_id, s, e,
           |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
           |isl AS (SELECT user_id, s, e,
           |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY user_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM o)
           |SELECT user_id, min(s) AS valid_from_us, max(e) AS valid_to_us,
           |  CAST(count(*) AS BIGINT) AS n_merged
           |FROM isl GROUP BY user_id, island""".stripMargin,
      // resample replay: per-(user, 6h-bucket) arg-max by (ts, event_id) —
      // the max-struct survivor — then the lead gap and the capped fill
      // explode (min(gap-1, 8) extra rows carrying the survivor forward)
      "resample_ffill" ->
        s"""WITH $resampleFfillCtes
           |SELECT user_id, (bucket + i) * 21600000000 AS bucket_start_us, v_cents,
           |  event_type, CAST(CASE WHEN i = 0 THEN n ELSE 0 END AS BIGINT) AS n_obs,
           |  CAST(CASE WHEN i = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_observed
           |FROM g""".stripMargin,
      // composed panel anomaly: the SAME resample chain, then the
      // value_outliers moment chain over the FILLED panel — holding-state
      // statistics, not event-arrival statistics
      "pipeline_panel_anomaly" ->
        s"""WITH $resampleFfillCtes,
           |panel AS (SELECT user_id, (bucket + i) * 21600000000 AS bucket_start_us,
           |    v_cents, event_type FROM g),
           |st AS (SELECT event_type, count(*) AS n,
           |    CAST(sum(v_cents) AS BIGINT) AS s,
           |    CAST(sum(v_cents * v_cents) AS BIGINT) AS ss
           |  FROM panel GROUP BY event_type),
           |m AS (SELECT event_type, CAST(s AS DOUBLE) / n AS mu,
           |    sqrt(CAST(ss AS DOUBLE) / n
           |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sigma
           |  FROM st)
           |SELECT p.user_id, p.bucket_start_us, p.event_type, p.v_cents,
           |  round((CAST(v_cents AS DOUBLE) - mu) / sigma, 6) AS z_score
           |FROM panel p JOIN m USING (event_type)
           |WHERE sigma > 0
           |  AND abs((CAST(v_cents AS DOUBLE) - mu) / sigma) > 2.5""".stripMargin,
      // TWA replay: the scd2 regime chain (same-instant max, no-op drop,
      // lead), the window clip truncated to whole seconds, then the two
      // integral divisions — all positive here, so // matches floor
      "time_weighted_avg" ->
        s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
           |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
           |c AS (SELECT user_id, us, max(v) AS v FROM ev GROUP BY 1, 2),
           |ch AS (SELECT user_id, us, v,
           |    lag(v) OVER (PARTITION BY user_id ORDER BY us) AS pv FROM c),
           |sur AS (SELECT user_id, us, v FROM ch WHERE pv IS NULL OR v <> pv),
           |iv AS (SELECT user_id, v, us AS f,
           |    lead(us) OVER (PARTITION BY user_id ORDER BY us) AS t FROM sur),
           |o AS (SELECT user_id, v,
           |    CASE WHEN least(coalesce(t, 1706400000000000), 1706400000000000)
           |        > greatest(f, 1704672000000000)
           |      THEN (least(coalesce(t, 1706400000000000), 1706400000000000)
           |        - greatest(f, 1704672000000000)) // 1000000
           |      ELSE 0 END AS d FROM iv)
           |SELECT user_id, CAST(sum(d) AS BIGINT) AS coverage_s,
           |  CAST(sum(v * d) AS BIGINT) AS vt_integral,
           |  CASE WHEN sum(d) > 0
           |    THEN CAST(sum(v * d) // sum(d) AS BIGINT) END AS twa_q
           |FROM o GROUP BY user_id""".stripMargin,
      // linkage-eval replay: BOTH detectors re-run blocked (not all-pairs —
      // precision/recall are properties of the DETECTOR), the planted truth
      // set incl. the zero-evidence reversed pairs, three counts, three
      // integral divisions
      "er_eval" ->
        """WITH cust AS (SELECT c_custkey AS k,
          |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS core,
          |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
          |      % 100 AS b,
          |    CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment
          |  FROM customer),
          |recs AS (
          |  SELECT k AS rec_id, core AS name, nation, segment FROM cust
          |  UNION ALL SELECT -k - 1, upper(core), nation, NULL FROM cust WHERE b < 10
          |  UNION ALL SELECT k + 3000000, substr(core, 1, 4) || substr(core, 6, 7),
          |    nation, segment FROM cust WHERE b >= 5 AND b < 20
          |  UNION ALL SELECT k + 4000000, reverse(core), nation, segment
          |    FROM cust WHERE b >= 20 AND b < 28),
          |nm AS (SELECT rec_id, nation, segment,
          |    trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s FROM recs),
          |g AS (SELECT rec_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(s) - 2, 1)),
          |    i -> substr(s, CAST(i AS INTEGER), 3))) AS tg
          |  FROM nm WHERE len(s) > 0),
          |bk AS (SELECT rec_id, 'name4' AS bn, substr(s, 1, 4) AS bv FROM nm WHERE len(s) > 0
          |  UNION ALL SELECT rec_id, 'attrs', CAST(nation AS VARCHAR) || '|' || segment
          |    FROM nm WHERE nation IS NOT NULL AND segment IS NOT NULL),
          |eqp AS (SELECT DISTINCT x.rec_id AS a, y.rec_id AS b
          |  FROM bk x JOIN bk y ON x.bn = y.bn AND x.bv = y.bv AND x.rec_id < y.rec_id),
          |eqv AS (SELECT a, b FROM (SELECT p.a, p.b,
          |    len(list_intersect(ga.tg, gb2.tg)) * 1000000
          |      // len(list_distinct(ga.tg || gb2.tg)) AS score
          |  FROM eqp p JOIN g ga ON p.a = ga.rec_id JOIN g gb2 ON p.b = gb2.rec_id)
          |  WHERE score >= 550000),
          |o AS (SELECT rec_id, s,
          |    lead(rec_id, 1) OVER w AS id1, lead(s, 1) OVER w AS s1,
          |    lead(rec_id, 2) OVER w AS id2, lead(s, 2) OVER w AS s2,
          |    lead(rec_id, 3) OVER w AS id3, lead(s, 3) OVER w AS s3
          |  FROM (SELECT rec_id, s FROM nm WHERE len(s) > 0)
          |  WINDOW w AS (PARTITION BY substr(s, 1, 1) ORDER BY s, rec_id)),
          |pp AS (SELECT rec_id AS x, id1 AS y FROM o WHERE id1 IS NOT NULL
          |  UNION ALL SELECT rec_id, id2 FROM o WHERE id2 IS NOT NULL
          |  UNION ALL SELECT rec_id, id3 FROM o WHERE id3 IS NOT NULL),
          |snmv AS (SELECT least(x, y) AS a, greatest(x, y) AS b FROM (
          |    SELECT x, y, len(list_intersect(gx.tg, gy.tg)) * 1000000
          |      // len(list_distinct(gx.tg || gy.tg)) AS score
          |    FROM pp JOIN g gx ON pp.x = gx.rec_id JOIN g gy ON pp.y = gy.rec_id)
          |  WHERE score >= 550000),
          |det AS (SELECT a, b FROM eqv UNION SELECT a, b FROM snmv),
          |tru AS (SELECT DISTINCT least(p1, p2) AS a, greatest(p1, p2) AS b FROM (
          |  SELECT k AS p1, -k - 1 AS p2 FROM cust WHERE b < 10
          |  UNION ALL SELECT k, k + 3000000 FROM cust WHERE b >= 5 AND b < 20
          |  UNION ALL SELECT -k - 1, k + 3000000 FROM cust WHERE b >= 5 AND b < 10
          |  UNION ALL SELECT k, k + 4000000 FROM cust WHERE b >= 20 AND b < 28)),
          |c AS (SELECT
          |    (SELECT count(*) FROM tru) AS n_truth,
          |    (SELECT count(*) FROM det) AS n_detected,
          |    (SELECT count(*) FROM det JOIN tru ON det.a = tru.a AND det.b = tru.b)
          |      AS n_correct),
          |c2 AS (SELECT CAST(n_truth AS BIGINT) AS n_truth,
          |    CAST(n_detected AS BIGINT) AS n_detected,
          |    CAST(n_correct AS BIGINT) AS n_correct,
          |    CASE WHEN n_detected > 0
          |      THEN CAST(n_correct * 1000000 // n_detected AS BIGINT) END AS precision_ppm,
          |    CASE WHEN n_truth > 0
          |      THEN CAST(n_correct * 1000000 // n_truth AS BIGINT) END AS recall_ppm
          |  FROM c)
          |SELECT *, CASE WHEN precision_ppm IS NOT NULL AND recall_ppm IS NOT NULL
          |    AND precision_ppm + recall_ppm > 0
          |  THEN CAST(2 * precision_ppm * recall_ppm
          |    // (precision_ppm + recall_ppm) AS BIGINT) END AS f1_ppm
          |FROM c2""".stripMargin,
      // er_eval + the Fellegi–Sunter detector: same universe with balance,
      // per-pair agreement-weight sums over blocked candidates, same truth
      "er_eval_fs" ->
        """WITH cust AS (SELECT c_custkey AS k,
          |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS core,
          |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
          |      % 100 AS b,
          |    CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
          |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal
          |  FROM customer),
          |recs AS (
          |  SELECT k AS rec_id, core AS name, nation, segment, bal FROM cust
          |  UNION ALL SELECT -k - 1, upper(core), nation, NULL, NULL
          |    FROM cust WHERE b < 10
          |  UNION ALL SELECT k + 3000000, substr(core, 1, 4) || substr(core, 6, 7),
          |    nation, segment, bal FROM cust WHERE b >= 5 AND b < 20
          |  UNION ALL SELECT k + 4000000, reverse(core), nation, segment, bal
          |    FROM cust WHERE b >= 20 AND b < 28),
          |nm AS (SELECT rec_id, nation, segment, bal,
          |    trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s FROM recs),
          |g AS (SELECT rec_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(s) - 2, 1)),
          |    i -> substr(s, CAST(i AS INTEGER), 3))) AS tg
          |  FROM nm WHERE len(s) > 0),
          |bk AS (SELECT rec_id, 'name4' AS bn, substr(s, 1, 4) AS bv FROM nm WHERE len(s) > 0
          |  UNION ALL SELECT rec_id, 'attrs', CAST(nation AS VARCHAR) || '|' || segment
          |    FROM nm WHERE nation IS NOT NULL AND segment IS NOT NULL),
          |eqp AS (SELECT DISTINCT x.rec_id AS a, y.rec_id AS b
          |  FROM bk x JOIN bk y ON x.bn = y.bn AND x.bv = y.bv AND x.rec_id < y.rec_id),
          |eqv AS (SELECT a, b FROM (SELECT p.a, p.b,
          |    len(list_intersect(ga.tg, gb2.tg)) * 1000000
          |      // len(list_distinct(ga.tg || gb2.tg)) AS score
          |  FROM eqp p JOIN g ga ON p.a = ga.rec_id JOIN g gb2 ON p.b = gb2.rec_id)
          |  WHERE score >= 550000),
          |o AS (SELECT rec_id, s,
          |    lead(rec_id, 1) OVER w AS id1, lead(s, 1) OVER w AS s1,
          |    lead(rec_id, 2) OVER w AS id2, lead(s, 2) OVER w AS s2,
          |    lead(rec_id, 3) OVER w AS id3, lead(s, 3) OVER w AS s3
          |  FROM (SELECT rec_id, s FROM nm WHERE len(s) > 0)
          |  WINDOW w AS (PARTITION BY substr(s, 1, 1) ORDER BY s, rec_id)),
          |pp AS (SELECT rec_id AS x, id1 AS y FROM o WHERE id1 IS NOT NULL
          |  UNION ALL SELECT rec_id, id2 FROM o WHERE id2 IS NOT NULL
          |  UNION ALL SELECT rec_id, id3 FROM o WHERE id3 IS NOT NULL),
          |snmv AS (SELECT least(x, y) AS a, greatest(x, y) AS b FROM (
          |    SELECT x, y, len(list_intersect(gx.tg, gy.tg)) * 1000000
          |      // len(list_distinct(gx.tg || gy.tg)) AS score
          |    FROM pp JOIN g gx ON pp.x = gx.rec_id JOIN g gy ON pp.y = gy.rec_id)
          |  WHERE score >= 550000),
          |fsv AS (SELECT a, b FROM (SELECT p.a, p.b,
          |    CASE WHEN ga.tg IS NOT NULL AND gb2.tg IS NOT NULL THEN
          |      CASE WHEN len(list_intersect(ga.tg, gb2.tg)) * 1000000
          |             // len(list_distinct(ga.tg || gb2.tg)) >= 550000
          |           THEN 40 ELSE -20 END
          |    ELSE 0 END
          |    + CASE WHEN ra.nation IS NOT NULL AND rb.nation IS NOT NULL
          |        THEN CASE WHEN ra.nation = rb.nation THEN 5 ELSE -30 END
          |        ELSE 0 END
          |    + CASE WHEN ra.segment IS NOT NULL AND rb.segment IS NOT NULL
          |        THEN CASE WHEN ra.segment = rb.segment THEN 2 ELSE -20 END
          |        ELSE 0 END
          |    + CASE WHEN ra.bal IS NOT NULL AND rb.bal IS NOT NULL
          |        THEN CASE WHEN ra.bal = rb.bal THEN 35 ELSE -5 END
          |        ELSE 0 END AS w
          |  FROM eqp p
          |  JOIN nm ra ON p.a = ra.rec_id JOIN nm rb ON p.b = rb.rec_id
          |  LEFT JOIN g ga ON p.a = ga.rec_id LEFT JOIN g gb2 ON p.b = gb2.rec_id)
          |  WHERE w >= 20),
          |det AS (SELECT a, b FROM eqv UNION SELECT a, b FROM snmv
          |  UNION SELECT a, b FROM fsv),
          |tru AS (SELECT DISTINCT least(p1, p2) AS a, greatest(p1, p2) AS b FROM (
          |  SELECT k AS p1, -k - 1 AS p2 FROM cust WHERE b < 10
          |  UNION ALL SELECT k, k + 3000000 FROM cust WHERE b >= 5 AND b < 20
          |  UNION ALL SELECT -k - 1, k + 3000000 FROM cust WHERE b >= 5 AND b < 10
          |  UNION ALL SELECT k, k + 4000000 FROM cust WHERE b >= 20 AND b < 28)),
          |c AS (SELECT
          |    (SELECT count(*) FROM tru) AS n_truth,
          |    (SELECT count(*) FROM det) AS n_detected,
          |    (SELECT count(*) FROM det JOIN tru ON det.a = tru.a AND det.b = tru.b)
          |      AS n_correct),
          |c2 AS (SELECT CAST(n_truth AS BIGINT) AS n_truth,
          |    CAST(n_detected AS BIGINT) AS n_detected,
          |    CAST(n_correct AS BIGINT) AS n_correct,
          |    CASE WHEN n_detected > 0
          |      THEN CAST(n_correct * 1000000 // n_detected AS BIGINT) END AS precision_ppm,
          |    CASE WHEN n_truth > 0
          |      THEN CAST(n_correct * 1000000 // n_truth AS BIGINT) END AS recall_ppm
          |  FROM c)
          |SELECT *, CASE WHEN precision_ppm IS NOT NULL AND recall_ppm IS NOT NULL
          |    AND precision_ppm + recall_ppm > 0
          |  THEN CAST(2 * precision_ppm * recall_ppm
          |    // (precision_ppm + recall_ppm) AS BIGINT) END AS f1_ppm
          |FROM c2""".stripMargin,
      // SNM replay: the same planted universe, the prefix-partitioned
      // (name, id) window, three leads unioned, trigram verify — row-exact
      "er_sorted_pairs" ->
        """WITH cust AS (SELECT c_custkey AS k,
          |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS core,
          |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
          |      % 100 AS b
          |  FROM customer),
          |recs AS (
          |  SELECT k AS rec_id, core AS name FROM cust
          |  UNION ALL SELECT -k - 1, upper(core) FROM cust WHERE b < 10
          |  UNION ALL SELECT k + 3000000, substr(core, 1, 4) || substr(core, 6, 7)
          |    FROM cust WHERE b >= 5 AND b < 20),
          |f AS (SELECT rec_id,
          |    trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s
          |  FROM recs),
          |ff AS (SELECT rec_id, s FROM f WHERE len(s) > 0),
          |o AS (SELECT rec_id, s,
          |    lead(rec_id, 1) OVER w AS id1, lead(s, 1) OVER w AS s1,
          |    lead(rec_id, 2) OVER w AS id2, lead(s, 2) OVER w AS s2,
          |    lead(rec_id, 3) OVER w AS id3, lead(s, 3) OVER w AS s3
          |  FROM ff WINDOW w AS (PARTITION BY substr(s, 1, 1) ORDER BY s, rec_id)),
          |p AS (SELECT rec_id AS id, s, id1 AS nid, s1 AS ns FROM o WHERE id1 IS NOT NULL
          |  UNION ALL SELECT rec_id, s, id2, s2 FROM o WHERE id2 IS NOT NULL
          |  UNION ALL SELECT rec_id, s, id3, s3 FROM o WHERE id3 IS NOT NULL),
          |sc AS (SELECT id, nid,
          |    len(list_intersect(
          |      list_distinct(list_transform(generate_series(1, greatest(len(s) - 2, 1)),
          |        i -> substr(s, CAST(i AS INTEGER), 3))),
          |      list_distinct(list_transform(generate_series(1, greatest(len(ns) - 2, 1)),
          |        i -> substr(ns, CAST(i AS INTEGER), 3))))) * 1000000
          |    // len(list_distinct(
          |      list_distinct(list_transform(generate_series(1, greatest(len(s) - 2, 1)),
          |        i -> substr(s, CAST(i AS INTEGER), 3))) ||
          |      list_distinct(list_transform(generate_series(1, greatest(len(ns) - 2, 1)),
          |        i -> substr(ns, CAST(i AS INTEGER), 3))))) AS score
          |  FROM p)
          |SELECT least(id, nid) AS a_id, greatest(id, nid) AS b_id,
          |  CAST(score AS BIGINT) AS score_ppm
          |FROM sc WHERE score >= 550000""".stripMargin,
      // incremental ER replay: cross-side ALL-PAIRS ground truth (blocking
      // recall measured), the (score DESC, entity ASC) winner per batch
      // record, novel records ride the LEFT join as NULLs
      // FS incremental replay: cross-side ALL-PAIRS agreement-weight sums
      // (blocking recall measured), (w DESC, entity ASC, ref ASC) argmax,
      // novel NULL below threshold
      "entity_resolution_against_fs" ->
        """WITH cust AS (SELECT c_custkey AS k,
          |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS core,
          |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
          |      % 100 AS b,
          |    CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
          |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal
          |  FROM customer),
          |ref AS (SELECT k AS rec_id, core AS name, nation, segment, bal FROM cust),
          |batch AS (
          |  SELECT -k - 1 AS rec_id, upper(core) AS name, nation,
          |    CAST(NULL AS VARCHAR) AS segment, CAST(NULL AS BIGINT) AS bal
          |    FROM cust WHERE b < 10
          |  UNION ALL SELECT k + 3000000, substr(core, 1, 4) || substr(core, 6, 7),
          |    nation, segment, bal FROM cust WHERE b >= 5 AND b < 20
          |  UNION ALL SELECT k + 4000000, reverse(core), nation, segment, bal
          |    FROM cust WHERE b >= 20 AND b < 28),
          |gb AS (SELECT rec_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(s) - 2, 1)),
          |    i -> substr(s, CAST(i AS INTEGER), 3))) AS tg
          |  FROM (SELECT rec_id,
          |      trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s
          |    FROM batch) WHERE len(s) > 0),
          |gr AS (SELECT rec_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(s) - 2, 1)),
          |    i -> substr(s, CAST(i AS INTEGER), 3))) AS tg
          |  FROM (SELECT rec_id,
          |      trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s
          |    FROM ref) WHERE len(s) > 0),
          |p AS (SELECT bt.rec_id AS id, r.rec_id AS rid,
          |    CASE WHEN gb.tg IS NOT NULL AND gr.tg IS NOT NULL THEN
          |      CASE WHEN len(list_intersect(gb.tg, gr.tg)) * 1000000
          |             // len(list_distinct(gb.tg || gr.tg)) >= 550000
          |           THEN 40 ELSE -20 END
          |    ELSE 0 END
          |    + CASE WHEN bt.nation IS NOT NULL AND r.nation IS NOT NULL
          |        THEN CASE WHEN bt.nation = r.nation THEN 5 ELSE -30 END
          |        ELSE 0 END
          |    + CASE WHEN bt.segment IS NOT NULL AND r.segment IS NOT NULL
          |        THEN CASE WHEN bt.segment = r.segment THEN 2 ELSE -20 END
          |        ELSE 0 END
          |    + CASE WHEN bt.bal IS NOT NULL AND r.bal IS NOT NULL
          |        THEN CASE WHEN bt.bal = r.bal THEN 35 ELSE -5 END
          |        ELSE 0 END AS w
          |  FROM batch bt CROSS JOIN ref r
          |  LEFT JOIN gb ON gb.rec_id = bt.rec_id
          |  LEFT JOIN gr ON gr.rec_id = r.rec_id),
          |a AS (SELECT id, rid, w, row_number() OVER (PARTITION BY id
          |    ORDER BY w DESC, rid ASC) AS rn
          |  FROM p WHERE w >= 20)
          |SELECT bt.rec_id AS id, a.rid AS entity_id,
          |  CAST(a.w AS BIGINT) AS weight, a.rid AS ref_id
          |FROM batch bt LEFT JOIN a ON bt.rec_id = a.id AND a.rn = 1""".stripMargin,
      "entity_resolution_against" ->
        """WITH cust AS (SELECT c_custkey AS k,
          |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS core,
          |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
          |      % 100 AS b
          |  FROM customer),
          |ref AS (SELECT k AS rec_id, core AS name FROM cust),
          |batch AS (
          |  SELECT -k - 1 AS rec_id, upper(core) AS name FROM cust WHERE b < 10
          |  UNION ALL SELECT k + 3000000, substr(core, 1, 4) || substr(core, 6, 7)
          |    FROM cust WHERE b >= 5 AND b < 20
          |  UNION ALL SELECT k + 4000000, reverse(core)
          |    FROM cust WHERE b >= 20 AND b < 28),
          |gb AS (SELECT rec_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(s) - 2, 1)),
          |    i -> substr(s, CAST(i AS INTEGER), 3))) AS tg
          |  FROM (SELECT rec_id,
          |      trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s
          |    FROM batch) WHERE len(s) > 0),
          |gr AS (SELECT rec_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(s) - 2, 1)),
          |    i -> substr(s, CAST(i AS INTEGER), 3))) AS tg
          |  FROM (SELECT rec_id,
          |      trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s
          |    FROM ref) WHERE len(s) > 0),
          |p AS (SELECT b.rec_id AS id, r.rec_id AS ref_id,
          |    len(list_intersect(b.tg, r.tg)) * 1000000
          |      // len(list_distinct(b.tg || r.tg)) AS score
          |  FROM gb b CROSS JOIN gr r),
          |a AS (SELECT id, ref_id AS entity_id, score, ref_id AS rid,
          |    row_number() OVER (PARTITION BY id
          |      ORDER BY score DESC, ref_id ASC) AS rn
          |  FROM p WHERE score >= 550000)
          |SELECT b.rec_id AS id, a.entity_id,
          |  CAST(a.score AS BIGINT) AS score_ppm, a.rid AS ref_id
          |FROM batch b LEFT JOIN a ON b.rec_id = a.id AND a.rn = 1""".stripMargin,
      // entity-resolution replay against ALL-PAIRS ground truth: planted
      // variants → normalized trigram sets → every pair scored (no blocking
      // in the oracle — recall is measured) → recursive-CTE components →
      // per-field first-non-null-by-id survivorship
      "entity_resolution" ->
        """WITH RECURSIVE cust AS (SELECT c_custkey AS k,
          |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS core,
          |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
          |      % 100 AS b,
          |    CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
          |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
          |  FROM customer),
          |recs AS (
          |  SELECT k AS rec_id, core AS name, nation, segment, bal_cents FROM cust
          |  UNION ALL
          |  SELECT -k - 1, upper(core), nation, NULL, NULL FROM cust WHERE b < 10
          |  UNION ALL
          |  SELECT k + 3000000, substr(core, 1, 4) || substr(core, 6, 7), nation,
          |    segment, bal_cents FROM cust WHERE b >= 5 AND b < 20),
          |nm AS (SELECT rec_id,
          |    trim(regexp_replace(lower(name), '[^a-z0-9]+', ' ', 'g')) AS s
          |  FROM recs),
          |g AS (SELECT rec_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(s) - 2, 1)),
          |    i -> substr(s, CAST(i AS INTEGER), 3))) AS tg
          |  FROM nm WHERE len(s) > 0),
          |e AS (SELECT a.rec_id AS a, b.rec_id AS b
          |  FROM g a JOIN g b ON a.rec_id < b.rec_id
          |  WHERE len(list_intersect(a.tg, b.tg)) * 1000000
          |      // len(list_distinct(a.tg || b.tg)) >= 550000),
          |edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
          |reach(src, dst) AS (
          |  SELECT rec_id, rec_id FROM recs
          |  UNION
          |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a),
          |lab AS (SELECT src AS rec_id, min(dst) AS entity_id FROM reach GROUP BY src)
          |SELECT l.entity_id, CAST(count(*) AS BIGINT) AS n_members,
          |  arg_min(r.name, r.rec_id) FILTER (WHERE r.name IS NOT NULL) AS name,
          |  arg_min(r.segment, r.rec_id) FILTER (WHERE r.segment IS NOT NULL) AS segment,
          |  arg_min(r.bal_cents, r.rec_id) FILTER (WHERE r.bal_cents IS NOT NULL) AS bal_cents
          |FROM recs r JOIN lab l ON r.rec_id = l.rec_id
          |GROUP BY l.entity_id""".stripMargin,
      "asof_join" ->
        s"""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
           |  FROM events WHERE event_type = 'purchase'),
           |r AS (SELECT user_id, ts_us, event_id, cents FROM (
           |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           |    CAST(round(value * 100) AS BIGINT) AS cents,
           |    row_number() OVER (PARTITION BY user_id, epoch_us(ts)
           |      ORDER BY event_id DESC) AS rn
           |  FROM events WHERE event_type = 'click') WHERE rn = 1)
           |SELECT l.event_id, l.user_id, l.ts_us,
           |  coalesce(CASE WHEN r.ts_us >= l.ts_us - ${3L * 86400000000L}
           |    THEN r.ts_us END, -1) AS asof_ts_us,
           |  coalesce(CASE WHEN r.ts_us >= l.ts_us - ${3L * 86400000000L}
           |    THEN r.event_id END, -1) AS asof_event_id,
           |  coalesce(CASE WHEN r.ts_us >= l.ts_us - ${3L * 86400000000L}
           |    THEN r.cents END, -1) AS asof_value_cents
           |FROM l ASOF LEFT JOIN r
           |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin,
      "interval_join" ->
        s"""WITH iv AS (SELECT CAST(i AS INTEGER) AS window_id,
           |    $StartUs + i * ${4L * 3600000000L} AS ws,
           |    $StartUs + i * ${4L * 3600000000L} + ${6L * 3600000000L} AS we
           |  FROM (SELECT unnest(generate_series(0, 39)) AS i)),
           |ev AS (SELECT epoch_us(ts) AS us,
           |  CAST(round(value * 10000) AS BIGINT) AS v FROM events)
           |SELECT window_id, ws AS w_start_us, count(*) AS n_events,
           |  CAST(sum(v) AS BIGINT) AS sum_value
           |FROM iv JOIN ev ON ev.us >= iv.ws AND ev.us < iv.we
           |GROUP BY 1, 2""".stripMargin,
      // Exactly-rounded IEEE ops (+ * / floor max) in the pinned order make
      // the quantized bytes engine-identical; the scale itself is a float
      // max, exact in double.
      "embedding_quantize" ->
        """WITH s AS (SELECT vec_id, embedding,
          |  greatest(abs(CAST(list_max(embedding) AS DOUBLE)),
          |           abs(CAST(list_min(embedding) AS DOUBLE))) AS scale
          |  FROM embeddings)
          |SELECT vec_id, scale,
          |  CASE WHEN scale = 0
          |    THEN array_to_string(list_transform(embedding, x -> 0), ',')
          |    ELSE array_to_string(list_transform(embedding,
          |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS BIGINT)), ',')
          |  END AS q_str
          |FROM s""".stripMargin,
      // the sign matrix regenerates IN SQL from md5 nibble parity (no
      // cross-engine literals); quantization is floor(x * 2^10) — exact —
      // and the projection is pure integer sums, so values hash-match
      "embedding_project" ->
        """WITH q AS (SELECT vec_id, d.range AS d,
          |  CAST(floor(CAST(embedding[CAST(d.range AS INT) + 1] AS DOUBLE) * 1024) AS BIGINT) AS qv
          |  FROM embeddings, range(0, 64) d),
          |sgn AS (SELECT j.range AS j, d.range AS d,
          |  CASE WHEN CAST(concat('0x', substr(md5('graftproj:' || j.range || ':' || d.range), 1, 1)) AS INT) % 2 = 0
          |       THEN 1 ELSE -1 END AS s
          |  FROM range(0, 16) j, range(0, 64) d),
          |p AS (SELECT vec_id, j, sum(s * qv) AS pv FROM q JOIN sgn USING (d) GROUP BY 1, 2)
          |SELECT vec_id, string_agg(CAST(pv AS VARCHAR), ',' ORDER BY j) AS proj_str
          |FROM p GROUP BY vec_id""".stripMargin,
      // list_reduce folds left-to-right like the native dot-product loop
      // (0.0 + x0^2 is exactly x0^2, so the missing explicit zero seed
      // cannot diverge); sqrt and the per-element ops are exactly rounded.
      "embedding_normalize" ->
        """WITH s AS (SELECT vec_id, embedding,
          |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
          |       (a, b) -> a + b)) AS norm
          |  FROM embeddings)
          |SELECT vec_id, norm,
          |  CASE WHEN norm = 0
          |    THEN array_to_string(list_transform(embedding, x -> 0), ',')
          |    ELSE array_to_string(list_transform(embedding,
          |      x -> CAST(floor(CAST(x AS DOUBLE) / norm * 1000000.0 + 0.5) AS BIGINT)), ',')
          |  END AS u_str
          |FROM s""".stripMargin,
      // C4 line filter: rebuild the identical lines from token positions
      // (12-token segments + conditional '.' + the planted boilerplate
      // line), then apply the three rules — >= 3 tokens, terminal
      // punctuation, no blocked substring — and reassemble survivors
      "filter_lines" ->
        s"""WITH $lineFilterCtes
           |SELECT doc_id, text_kept, n_lines, n_kept FROM lf""".stripMargin,
      // Gopher gate replay: rebuild the planted multi-line corpus from token
      // positions (bullet prefix every (doc_id+pos)%5, ellipsis terminal
      // every %7, first line re-appended every 6th doc), then every counter
      // and every cross-multiplied integer rule verdict end-to-end
      "filter_gopher" ->
        s"""WITH $toksCte,
           |ex AS (SELECT doc_id, unnest(toks) AS tok,
           |  generate_subscripts(toks, 1) AS p FROM t),
           |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
           |  CASE WHEN (doc_id + (p - 1) // 12) % 5 = 0 THEN '- ' ELSE '' END ||
           |    string_agg(tok, ' ' ORDER BY p) ||
           |    CASE WHEN (doc_id + (p - 1) // 12) % 7 = 0 THEN '...' ELSE '.' END AS line
           |  FROM ex GROUP BY doc_id, (p - 1) // 12),
           |mx AS (SELECT doc_id, max(pos) AS mp FROM segs GROUP BY doc_id),
           |al AS (SELECT doc_id, pos, line FROM segs
           |  UNION ALL SELECT s.doc_id, mx.mp + 1, s.line
           |    FROM segs s JOIN mx USING (doc_id)
           |    WHERE s.pos = 0 AND s.doc_id % 6 = 0),
           |doc AS (SELECT t.doc_id, coalesce(d.text, '') AS text FROM t LEFT JOIN
           |  (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
           |   FROM al GROUP BY doc_id) d USING (doc_id)),
           |${gopherChain("doc")}
           |SELECT doc_id,
           |  CAST(n_words AS BIGINT) AS n_words,
           |  CAST(n_word_chars AS BIGINT) AS n_word_chars,
           |  CAST(n_alpha_words AS BIGINT) AS n_alpha_words,
           |  CAST(n_stopword_hits AS BIGINT) AS n_stopword_hits,
           |  CAST(n_lines AS BIGINT) AS n_lines,
           |  CAST(n_distinct_lines AS BIGINT) AS n_distinct_lines,
           |  CAST(n_bullet_lines AS BIGINT) AS n_bullet_lines,
           |  CAST(n_ellipsis_lines AS BIGINT) AS n_ellipsis_lines,
           |  CAST(n_symbols AS BIGINT) AS n_symbols,
           |  CAST($gWordsOk AS INT) AS words_ok,
           |  CAST($gMeanOk AS INT) AS mean_word_len_ok,
           |  CAST($gAlphaOk AS INT) AS alpha_ok,
           |  CAST($gSymbolOk AS INT) AS symbol_ok,
           |  CAST($gBulletOk AS INT) AS bullet_ok,
           |  CAST($gEllipsisOk AS INT) AS ellipsis_ok,
           |  CAST($gDupOk AS INT) AS dup_line_ok,
           |  CAST($gStopOk AS INT) AS stopword_ok,
           |  CAST($gKeepCond AS INT) AS keep
           |FROM gc""".stripMargin,
      // the crawl-ingest composition: line filter → quality score over the
      // KEPT text → >= 0.5 cut → exact dedup of the cleaned text (smallest
      // doc_id per distinct cleaned content wins; its score rides through)
      "pipeline_crawl_clean" ->
        (s"""WITH $lineFilterCtes,
           |t2 AS (SELECT doc_id, text_kept AS text,
           |""".stripMargin +
          s"""  list_filter(string_split_regex(lower(trim(text_kept)), '\\s+'),
           |    x -> len(x) > 0) AS toks FROM lf),
           |c2 AS (SELECT doc_id, text, len(toks) AS n_tokens,
           |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
           |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
           |  len(list_distinct(toks)) AS n_distinct_tokens,
           |  length(text) AS n_chars FROM t2),
           |q2 AS (SELECT doc_id, text,
           |  round(
           |    least(n_tokens / 20.0, 1.0) * 0.25 +
           |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
           |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
           |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
           |    6) AS quality_score
           |  FROM c2),
           |f2 AS (SELECT * FROM q2 WHERE quality_score >= 0.5)
           |SELECT min(doc_id) AS doc_id, count(*) AS n_dups,
           |       arg_min(quality_score, doc_id) AS quality_score
           |FROM f2 GROUP BY lower(trim(text))""".stripMargin),
      // the CAPSTONE: all seven stages chained from the SAME shared
      // fragments the single-stage oracles use (htmlExtractCtes,
      // toksCteFrom+lineFilterChain, gopherChain+gKeepCond,
      // canonicalizeCtes) — composition cannot drift from the stages
      "pipeline_crawl_full" ->
        s"""WITH RECURSIVE
           |u0 AS (SELECT doc_id, text FROM documents
           |       UNION ALL SELECT doc_id + 100002, text FROM documents),
           |${htmlExtractCtes("u0")},
           |x AS (SELECT doc_id, text_extracted AS text FROM f),
           |${toksCteFrom("x")},
           |$lineFilterChain,
           |g0 AS (SELECT doc_id, text_kept AS text FROM lf),
           |${gopherChain("g0")},
           |gk AS (SELECT g0.doc_id, g0.text FROM g0 JOIN gc USING (doc_id)
           |       WHERE $gKeepCond),
           |edd AS (SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text,
           |        count(*) AS n_dups
           |        FROM gk GROUP BY lower(trim(text))),
           |${canonicalizeCtes("edd")},
           |j2 AS (SELECT ccl.cluster, ccl.id, cjq.quality_score, nd.n_dups,
           |  row_number() OVER (PARTITION BY ccl.cluster
           |    ORDER BY cjq.quality_score DESC, ccl.id) AS rn,
           |  count(*) OVER (PARTITION BY ccl.cluster) AS n_members
           |  FROM ccl JOIN cjq USING (id)
           |  JOIN (SELECT doc_id AS id, n_dups FROM edd) nd USING (id)),
           |canon AS (SELECT id AS doc_id, quality_score, n_dups, n_members
           |  FROM j2 WHERE rn = 1),
           |bk AS (SELECT *,
           |  CASE WHEN quality_score >= 0.75 THEN 'head'
           |       WHEN quality_score >= 0.65 THEN 'middle' ELSE 'tail' END AS bucket,
           |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
           |    AS hb FROM canon),
           |mu AS (
           |  SELECT doc_id, quality_score, n_dups, n_members, bucket, 2 AS n
           |    FROM bk WHERE bucket = 'head'
           |  UNION ALL SELECT doc_id, quality_score, n_dups, n_members, bucket, 1 AS n
           |    FROM bk WHERE bucket = 'middle'
           |  UNION ALL SELECT doc_id, quality_score, n_dups, n_members, bucket,
           |    CASE WHEN hb < 30 THEN 1 ELSE 0 END AS n
           |    FROM bk WHERE bucket = 'tail'),
           |mixed AS (SELECT doc_id, bucket AS mix_source,
           |  CAST(unnest(range(1, n + 1)) AS INT) AS copy_id,
           |  quality_score, n_dups, n_members FROM mu),
           |sd AS (SELECT *,
           |  CAST(doc_id AS VARCHAR) || '_' || CAST(copy_id AS VARCHAR) AS shard_key,
           |  md5(CAST(doc_id AS VARCHAR) || '_' || CAST(copy_id AS VARCHAR)) AS dg
           |  FROM mixed),
           |ss AS (SELECT *,
           |  CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 8 AS INT) AS shard
           |  FROM sd)
           |SELECT doc_id, mix_source, copy_id, quality_score,
           |  CAST(n_dups AS BIGINT) AS n_dups,
           |  CAST(n_members AS BIGINT) AS n_members, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, shard_key) - 1
           |    AS BIGINT) AS position
           |FROM ss""".stripMargin,
      // HTML extraction: identical regex chain (RE2-compatible patterns),
      // entity decode by literal replace in the same order — &amp; LAST, so
      // the planted &amp;lt; renders the literal &lt;, never double-decodes
      "extract_html" ->
        s"""WITH ${htmlExtractCtes("documents")}
           |SELECT doc_id, text_extracted,
           |  length(text_extracted) AS n_chars_extracted FROM f""".stripMargin,
      "text_normalize" ->
        """WITH m AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0
          |    THEN 'The  QUICK' || chr(9) || 'Start ' || text || '  End' || chr(1) || 'Line '
          |    ELSE text END AS text
          |  FROM documents),
          |n AS (SELECT doc_id,
          |  trim(regexp_replace(
          |    translate(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'),
          |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
          |    ' +', ' ', 'g')) AS text_norm
          |  FROM m)
          |SELECT doc_id, text_norm, length(text_norm) AS n_chars_norm FROM n""".stripMargin,
      "inverted_index" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |pairs AS (SELECT doc_id, unnest(toks) AS term FROM t)
          |SELECT term, count(*) AS n_occurrences,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  array_to_string(list_sort(list(DISTINCT doc_id))[1:8], ',') AS postings_str
          |FROM pairs GROUP BY term""".stripMargin,
      "source_orc_roundtrip" ->
        "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
      "source_avro_roundtrip" ->
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer",
      // Parallel unnests zip in DuckDB, giving (token, position); the pair
      // generation is then an explicit positional self-join — the oracle can
      // afford the join the operator avoids.
      "cooccurrence" ->
        s"""WITH $toksCte,
           |pos AS (SELECT doc_id, unnest(toks) AS tok,
           |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
           |pr AS (SELECT p1.doc_id, p1.tok AS a, p2.tok AS b
           |  FROM pos p1 JOIN pos p2 ON p1.doc_id = p2.doc_id
           |    AND p2.pos > p1.pos AND p2.pos <= p1.pos + 2)
           |SELECT a, b, count(*) AS n_pairs,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           |FROM pr GROUP BY a, b
           |ORDER BY n_pairs DESC, a, b LIMIT 50""".stripMargin,
      "mix_corpora" ->
        """WITH b AS (SELECT doc_id, source,
          |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
          |    AS bucket FROM documents),
          |u AS (
          |  SELECT doc_id, source, 2 + CASE WHEN bucket < 50 THEN 1 ELSE 0 END AS n,
          |    'web' AS mix_source FROM b WHERE source = 'src0'
          |  UNION ALL
          |  SELECT doc_id, source, 1 AS n, 'books' AS mix_source FROM b WHERE source = 'src1'
          |  UNION ALL
          |  SELECT doc_id, source, CASE WHEN bucket < 30 THEN 1 ELSE 0 END AS n,
          |    'code' AS mix_source FROM b WHERE source = 'src2')
          |SELECT doc_id, source, CAST(unnest(range(1, n + 1)) AS INT) AS copy_id, mix_source
          |FROM u""".stripMargin,
      // PageRank replay: the iteration body is GENERATED once per iteration
      // from one Scala template (contribution = rank // outdeg summed per
      // dst, update = teleport + (inbound * 85) // 100), so the unrolled
      // chain cannot drift from itself — all integer ops, engine-identical
      // 16 unrolled peel layers over the planted-filament graph: the
      // k-core fixed point is unique and post-convergence layers are
      // no-ops, so the fixed unroll replays the early-stopping engine
      "graph_kcore" ->
        """WITH kl_0 AS MATERIALIZED (
          |  SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b FROM (
          |    SELECT o_custkey AS a0, l_suppkey + 1000000 AS b0
          |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |    UNION ALL SELECT 2000000 + i, 2000001 + i FROM range(1, 25) t(i)
          |    UNION ALL SELECT 2000000 + i, 2000002 + i FROM range(1, 24) t(i))
          |  WHERE a0 <> b0),
          |kk_1 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_0
          |    UNION ALL SELECT b FROM kl_0) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_1 AS MATERIALIZED (SELECT a, b FROM kl_0
          |  WHERE a IN (SELECT id FROM kk_1) AND b IN (SELECT id FROM kk_1)),
          |kk_2 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_1
          |    UNION ALL SELECT b FROM kl_1) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_2 AS MATERIALIZED (SELECT a, b FROM kl_1
          |  WHERE a IN (SELECT id FROM kk_2) AND b IN (SELECT id FROM kk_2)),
          |kk_3 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_2
          |    UNION ALL SELECT b FROM kl_2) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_3 AS MATERIALIZED (SELECT a, b FROM kl_2
          |  WHERE a IN (SELECT id FROM kk_3) AND b IN (SELECT id FROM kk_3)),
          |kk_4 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_3
          |    UNION ALL SELECT b FROM kl_3) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_4 AS MATERIALIZED (SELECT a, b FROM kl_3
          |  WHERE a IN (SELECT id FROM kk_4) AND b IN (SELECT id FROM kk_4)),
          |kk_5 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_4
          |    UNION ALL SELECT b FROM kl_4) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_5 AS MATERIALIZED (SELECT a, b FROM kl_4
          |  WHERE a IN (SELECT id FROM kk_5) AND b IN (SELECT id FROM kk_5)),
          |kk_6 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_5
          |    UNION ALL SELECT b FROM kl_5) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_6 AS MATERIALIZED (SELECT a, b FROM kl_5
          |  WHERE a IN (SELECT id FROM kk_6) AND b IN (SELECT id FROM kk_6)),
          |kk_7 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_6
          |    UNION ALL SELECT b FROM kl_6) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_7 AS MATERIALIZED (SELECT a, b FROM kl_6
          |  WHERE a IN (SELECT id FROM kk_7) AND b IN (SELECT id FROM kk_7)),
          |kk_8 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_7
          |    UNION ALL SELECT b FROM kl_7) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_8 AS MATERIALIZED (SELECT a, b FROM kl_7
          |  WHERE a IN (SELECT id FROM kk_8) AND b IN (SELECT id FROM kk_8)),
          |kk_9 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_8
          |    UNION ALL SELECT b FROM kl_8) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_9 AS MATERIALIZED (SELECT a, b FROM kl_8
          |  WHERE a IN (SELECT id FROM kk_9) AND b IN (SELECT id FROM kk_9)),
          |kk_10 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_9
          |    UNION ALL SELECT b FROM kl_9) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_10 AS MATERIALIZED (SELECT a, b FROM kl_9
          |  WHERE a IN (SELECT id FROM kk_10) AND b IN (SELECT id FROM kk_10)),
          |kk_11 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_10
          |    UNION ALL SELECT b FROM kl_10) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_11 AS MATERIALIZED (SELECT a, b FROM kl_10
          |  WHERE a IN (SELECT id FROM kk_11) AND b IN (SELECT id FROM kk_11)),
          |kk_12 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_11
          |    UNION ALL SELECT b FROM kl_11) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_12 AS MATERIALIZED (SELECT a, b FROM kl_11
          |  WHERE a IN (SELECT id FROM kk_12) AND b IN (SELECT id FROM kk_12)),
          |kk_13 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_12
          |    UNION ALL SELECT b FROM kl_12) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_13 AS MATERIALIZED (SELECT a, b FROM kl_12
          |  WHERE a IN (SELECT id FROM kk_13) AND b IN (SELECT id FROM kk_13)),
          |kk_14 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_13
          |    UNION ALL SELECT b FROM kl_13) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_14 AS MATERIALIZED (SELECT a, b FROM kl_13
          |  WHERE a IN (SELECT id FROM kk_14) AND b IN (SELECT id FROM kk_14)),
          |kk_15 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_14
          |    UNION ALL SELECT b FROM kl_14) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_15 AS MATERIALIZED (SELECT a, b FROM kl_14
          |  WHERE a IN (SELECT id FROM kk_15) AND b IN (SELECT id FROM kk_15)),
          |kk_16 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_15
          |    UNION ALL SELECT b FROM kl_15) GROUP BY id
          |  HAVING count(*) >= 3),
          |kl_16 AS MATERIALIZED (SELECT a, b FROM kl_15
          |  WHERE a IN (SELECT id FROM kk_16) AND b IN (SELECT id FROM kk_16)),
          |f AS (SELECT a, b FROM kl_16)
          |SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
          |  SELECT a AS id FROM f UNION ALL SELECT b FROM f)
          |GROUP BY id""".stripMargin,
      "page_rank" -> {
        val iters = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst AS node,
             |    CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inb
             |  FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |    CAST(150000 + (coalesce(c.inb, 0) * 85) // 100 AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
           |$iters
           |SELECT node, rank FROM r3""".stripMargin
      },
      // dangling redistribution: the page_rank unroll with one extra
      // 1-row CTE per iteration — the dangling nodes' summed rank split
      // integrally over N, added to every node's inbound before damping
      "page_rank_dangling" -> {
        val iters = (1 to 3).map { i =>
          s"""d$i AS (SELECT CAST(coalesce(
             |      sum(CASE WHEN od.src IS NULL THEN r.rank END), 0)
             |    // count(*) AS BIGINT) AS ds
             |  FROM r${i - 1} r LEFT JOIN od ON od.src = r.node),
             |c$i AS (SELECT e.dst AS node,
             |    CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inb
             |  FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |    CAST(150000 + ((coalesce(c.inb, 0) + (SELECT ds FROM d$i))
             |      * 85) // 100 AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
           |$iters
           |SELECT node, rank FROM r3""".stripMargin
      },
      // personalized PR: the page_rank unroll with the restart vector
      // concentrated on nation-0 customers (tp/r0 per node from the seed
      // flag); arithmetic is otherwise identical
      "personalized_pagerank" -> {
        val iters = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst AS node,
             |    CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inb
             |  FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |    CAST(n.tp + (coalesce(c.inb, 0) * 85) // 100 AS BIGINT) AS rank
             |  FROM nt n LEFT JOIN c$i c USING (node))""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |sd AS (SELECT DISTINCT c_custkey AS node FROM customer
           |  WHERE c_nationkey = 0),
           |nt AS MATERIALIZED (SELECT n.node,
           |    CASE WHEN sd.node IS NOT NULL THEN 150000 ELSE 0 END AS tp,
           |    CASE WHEN sd.node IS NOT NULL THEN 1000000 ELSE 0 END AS r0
           |  FROM nodes n LEFT JOIN sd ON sd.node = n.node),
           |r0 AS (SELECT node, CAST(r0 AS BIGINT) AS rank FROM nt),
           |$iters
           |SELECT node, rank FROM r3""".stripMargin
      },
      // synchronous LPA unrolled: each round is a plain (node, label) count
      // over the mirrored edges + the (count DESC, label ASC) row_number
      // pick — the fixed-round contract makes the replay exact
      "graph_communities" -> {
        val lpaRounds = (1 to 4).map { i =>
          s"""u$i AS (SELECT nb.dst AS id, l.community, count(*) AS c
             |  FROM nb JOIN l${i - 1} l ON nb.src = l.id
             |  GROUP BY nb.dst, l.community),
             |l$i AS (SELECT id, community FROM (
             |  SELECT id, community, row_number() OVER (PARTITION BY id
             |    ORDER BY c DESC, community ASC) AS rn
             |  FROM u$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT least(o_custkey, l_suppkey + 1000000) AS a,
           |    greatest(o_custkey, l_suppkey + 1000000) AS b
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |nb AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
           |l0 AS (SELECT a AS id, a AS community FROM e UNION SELECT b, b FROM e),
           |$lpaRounds
           |SELECT id, community FROM l4""".stripMargin
      },
      // HyperBall replay: the md5 register chain at p=4 (4-bit bucket,
      // 60-bit rest, rank ladder) seeds each node's radius-0 ball, then
      // three unrolled sweeps — each the node's own registers UNION ALL
      // in-neighbor registers, bucket-wise max — exactly the
      // hllMergeRegisters algebra; the panel re-aggregates the stacked
      // radius tables
      "graph_neighborhood" ->
        s"""WITH $hyperballCtes,
           |per AS (SELECT radius, CAST(count(*) AS BIGINT) AS n_register_rows,
           |  CAST(count(DISTINCT node) AS BIGINT) AS n_nodes FROM allr GROUP BY 1)
           |SELECT a.radius, a.max_rank, CAST(count(*) AS BIGINT) AS n_registers,
           |  per.n_nodes, per.n_register_rows
           |FROM allr a JOIN per ON per.radius = a.radius
           |GROUP BY 1, 2, 4, 5""".stripMargin,
      // harmonic-centrality replay: the shared HyperBall chain, then the
      // QUANTIZED estimator per (radius, node) — HUGEINT denominator sum,
      // the baked alpha numerator, the 15-entry linear-counting table
      // (identical Scala-computed literals in plan and oracle) — lagged
      // radius deltas clamped at 0, each divided by its radius
      "graph_harmonic" -> {
        val alphaNum =
          (BigInt(ops.Graph.hllAlphaPpm(4)) * 16 * 16 * BigInt(2).pow(61)).toString
        val lcCase = ops.Graph.hllLcMicroTable(4).zipWithIndex.map {
          case (v, i) => s"WHEN ${i + 1} THEN $v"
        }.mkString("CASE zeros ", " ", " ELSE NULL END")
        s"""WITH $hyperballCtes,
           |e0 AS (SELECT radius, node, count(*) AS ne,
           |  sum(1::HUGEINT << (61 - max_rank)) AS d FROM allr GROUP BY 1, 2),
           |e1 AS (SELECT radius, node, 16 - ne AS zeros,
           |  CAST('$alphaNum' AS HUGEINT)
           |    // (d + (16 - ne)::HUGEINT * 2305843009213693952) AS raw1 FROM e0),
           |es AS (SELECT radius, node,
           |  CASE WHEN zeros > 0 AND raw1 <= 40000000
           |    THEN ($lcCase) ELSE CAST(raw1 AS BIGINT) END AS est FROM e1),
           |lg AS (SELECT radius, node, est,
           |  lag(est) OVER (PARTITION BY node ORDER BY radius) AS prev FROM es)
           |SELECT node,
           |  max(CASE WHEN radius = 3 THEN est END) AS ball_micro,
           |  CAST(coalesce(sum(CASE WHEN radius > 0
           |    THEN greatest(est - prev, 0) // radius END), 0) AS BIGINT)
           |    AS harmonic_micro
           |FROM lg GROUP BY 1""".stripMargin
      },
      // temperature-mix replay: per-corpus counts pivot into ONE row so the
      // √-sum is an explicit left-associated expression (the documented op
      // order; a SQL aggregate's float summation order is unspecified), the
      // pct derivation is the identical IEEE chain (sqrt is correctly
      // rounded — the α=½ contract), and the realized mixture replays the
      // mixCorpora whole-epoch + md5-bucket rule with the DERIVED pcts
      "mix_temperature" -> {
        def pctSql(n: String) =
          s"CAST(floor(100.0 * sqrt(CAST($n AS DOUBLE)) * total / s / $n) AS INT)"
        s"""WITH n AS (SELECT
           |  count(*) FILTER (WHERE lang = 'en') AS n0,
           |  count(*) FILTER (WHERE lang = 'zh') AS n1,
           |  count(*) FILTER (WHERE lang = 'es') AS n2
           |  FROM documents WHERE doc_id IS NOT NULL),
           |p AS (SELECT n0, n1, n2, n0 + n1 + n2 AS total,
           |  sqrt(CAST(n0 AS DOUBLE)) + sqrt(CAST(n1 AS DOUBLE))
           |    + sqrt(CAST(n2 AS DOUBLE)) AS s FROM n),
           |w AS (SELECT ${pctSql("n0")} AS p0, ${pctSql("n1")} AS p1,
           |  ${pctSql("n2")} AS p2 FROM p),
           |b AS (SELECT doc_id, lang,
           |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
           |    AS bucket FROM documents),
           |u AS (
           |  SELECT doc_id, lang, p0 // 100 +
           |    CASE WHEN bucket < p0 % 100 THEN 1 ELSE 0 END AS n, 'en' AS mix_source
           |  FROM b, w WHERE lang = 'en'
           |  UNION ALL
           |  SELECT doc_id, lang, p1 // 100 +
           |    CASE WHEN bucket < p1 % 100 THEN 1 ELSE 0 END AS n, 'zh' AS mix_source
           |  FROM b, w WHERE lang = 'zh'
           |  UNION ALL
           |  SELECT doc_id, lang, p2 // 100 +
           |    CASE WHEN bucket < p2 % 100 THEN 1 ELSE 0 END AS n, 'es' AS mix_source
           |  FROM b, w WHERE lang = 'es')
           |SELECT doc_id, lang, CAST(unnest(range(1, n + 1)) AS INT) AS copy_id, mix_source
           |FROM u""".stripMargin
      },
      // tf/df division: one exactly-rounded IEEE op on two exact integers, so
      // score and ranking are engine-identical (a log-idf would drift).
      "top_terms" ->
        s"""WITH $toksCte,
           |pairs AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM pairs GROUP BY 1, 2),
           |d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
           |SELECT doc_id, term, tf, df, score, rank FROM (
           |  SELECT tf.doc_id, tf.term, tf.tf, d.df,
           |    CAST(tf.tf AS DOUBLE) / d.df AS score,
           |    row_number() OVER (PARTITION BY tf.doc_id
           |      ORDER BY CAST(tf.tf AS DOUBLE) / d.df DESC, tf.term) AS rank
           |  FROM tf JOIN d USING (term)) WHERE rank <= 3""".stripMargin,
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
          |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_e2,
          |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_e2,
          |  count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY 1, 2""".stripMargin,
      "q3_top_orders" ->
        """SELECT o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
          |  revenue_e2 FROM (
          |  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
          |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2
          |  FROM lineitem l
          |  JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN customer c ON o.o_custkey = c.c_custkey
          |  WHERE c.c_mktsegment = 'BUILDING'
          |    AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          |    AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
          |  GROUP BY 1, 2, 3
          |  ORDER BY revenue_e2 DESC, o_orderkey LIMIT 10)""".stripMargin,
      "top_events_per_user" ->
        """SELECT user_id, event_id, rank FROM (
          |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
          |    ORDER BY value DESC, event_id) AS rank FROM events)
          |WHERE rank <= 3""".stripMargin,
      "cms_counts" ->
        s"""WITH $toksCte,
           |tok AS (SELECT unnest(toks) AS tok FROM t),
           |kc AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
           |kj AS (SELECT tok, c, unnest([0, 1, 2, 3]) AS j FROM kc),
           |cells AS (SELECT j,
           |  CAST(concat('0x', substr(md5(tok), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell,
           |  c FROM kj),
           |sk AS (SELECT j, cell, CAST(sum(c) AS BIGINT) AS cell_count
           |  FROM cells GROUP BY j, cell),
           |pr AS (SELECT unnest(${sqlList(CmsProbes)}) AS tok),
           |pj AS (SELECT tok, unnest([0, 1, 2, 3]) AS j FROM pr),
           |pc AS (SELECT tok, j,
           |  CAST(concat('0x', substr(md5(tok), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell
           |  FROM pj),
           |est AS (SELECT pc.tok, CAST(min(coalesce(sk.cell_count, 0)) AS BIGINT) AS est_count
           |  FROM pc LEFT JOIN sk ON sk.j = pc.j AND sk.cell = pc.cell GROUP BY pc.tok)
           |SELECT est.tok AS token, est.est_count,
           |  CAST(coalesce(kc.c, 0) AS BIGINT) AS exact_count
           |FROM est LEFT JOIN kc ON kc.tok = est.tok""".stripMargin,
      // CMS inner-product join-size replay: per-side key counts → the
      // identical md5-chunk cells → per-row DECIMAL dot products, min over
      // a generated FULL row set (a zero-overlap row proves disjointness
      // and must drive the min to 0), next to the exact join count
      "cms_join_size" ->
        s"""WITH ka AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
           |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
           |kb AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS c
           |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
           |sa AS (SELECT j,
           |    CAST(concat('0x', substr(md5(k), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell,
           |    CAST(sum(c) AS BIGINT) AS ca
           |  FROM (SELECT k, c, unnest([0, 1, 2, 3]) AS j FROM ka)
           |  GROUP BY 1, 2),
           |sb AS (SELECT j,
           |    CAST(concat('0x', substr(md5(k), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell,
           |    CAST(sum(c) AS BIGINT) AS cb
           |  FROM (SELECT k, c, unnest([0, 1, 2, 3]) AS j FROM kb)
           |  GROUP BY 1, 2),
           |dots AS (SELECT sa.j,
           |    sum(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS dot
           |  FROM sa JOIN sb ON sa.j = sb.j AND sa.cell = sb.cell GROUP BY sa.j),
           |rws AS (SELECT unnest([0, 1, 2, 3]) AS j),
           |est AS (SELECT CAST(min(coalesce(dot, 0)) AS BIGINT) AS est_join_size
           |  FROM rws LEFT JOIN dots USING (j)),
           |tr AS (SELECT count(*) AS true_join_size
           |  FROM events e JOIN orders o ON e.user_id = o.o_custkey)
           |SELECT est_join_size, true_join_size FROM est, tr""".stripMargin,
      // registers built DIRECTLY over the union of rows — the Spark side
      // built per-type and merged, so matching pins merge == rebuild
      "hll_merge" ->
        s"""WITH h AS (SELECT substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS hx
           |  FROM events WHERE event_type IN ('click', 'purchase')),
           |c AS (SELECT $hllChunks FROM h),
           |b AS (SELECT c0 // 256 AS bucket, $hllRest AS rest FROM c),
           |r AS (SELECT bucket, CASE $hllLadder ELSE 57 END AS rank FROM b)
           |SELECT bucket, max(rank) AS max_rank FROM r GROUP BY bucket""".stripMargin,
      "hll_registers" ->
        s"""WITH h AS (SELECT event_type,
           |  substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS hx FROM events),
           |c AS (SELECT event_type, $hllChunks FROM h),
           |b AS (SELECT event_type, c0 // 256 AS bucket, $hllRest AS rest FROM c),
           |r AS (SELECT event_type, bucket, CASE $hllLadder ELSE 57 END AS rank FROM b)
           |SELECT event_type, bucket, max(rank) AS max_rank
           |FROM r GROUP BY event_type, bucket""".stripMargin,
      "hll_windowed" ->
        s"""WITH h AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           |  substr(md5(CAST(user_id AS VARCHAR)), 1, 16) AS hx FROM events),
           |c AS (SELECT window_start_us, $hllChunks FROM h),
           |b AS (SELECT window_start_us, c0 // 256 AS bucket, $hllRest AS rest FROM c),
           |r AS (SELECT window_start_us, bucket, CASE $hllLadder ELSE 57 END AS rank FROM b)
           |SELECT window_start_us, bucket, max(rank) AS max_rank
           |FROM r GROUP BY window_start_us, bucket""".stripMargin,
      "value_histogram" ->
        """SELECT event_type,
          |  CAST(least(greatest(floor((value - 0.0) / 20.0), 0.0), 24.0) AS BIGINT) AS bin,
          |  count(*) AS n
          |FROM events GROUP BY 1, 2""".stripMargin,
      "event_funnel" ->
        """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS step1_us FROM events
          |  WHERE event_type = 'signup' GROUP BY user_id),
          |s2 AS (SELECT s1.user_id, s1.step1_us, min(epoch_us(e.ts)) AS step2_us
          |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
          |    AND e.event_type = 'click' AND epoch_us(e.ts) > s1.step1_us
          |  GROUP BY 1, 2),
          |s3 AS (SELECT s2.user_id, s2.step1_us, s2.step2_us, min(epoch_us(e.ts)) AS step3_us
          |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
          |    AND e.event_type = 'purchase' AND epoch_us(e.ts) > s2.step2_us
          |  GROUP BY 1, 2, 3)
          |SELECT user_id, step1_us, step2_us, step3_us FROM s3""".stripMargin,
      // the funnel chain (same s1/s2/s3 shape as event_funnel) summarized:
      // count(col) per step + the rank-picked lower-median gaps
      "event_funnel_stats" ->
        """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS step1_us FROM events
          |  WHERE event_type = 'signup' GROUP BY user_id),
          |s2 AS (SELECT s1.user_id, s1.step1_us, min(epoch_us(e.ts)) AS step2_us
          |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
          |    AND e.event_type = 'click' AND epoch_us(e.ts) > s1.step1_us
          |  GROUP BY 1, 2),
          |s3 AS (SELECT s2.user_id, s2.step1_us, s2.step2_us, min(epoch_us(e.ts)) AS step3_us
          |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
          |    AND e.event_type = 'purchase' AND epoch_us(e.ts) > s2.step2_us
          |  GROUP BY 1, 2, 3),
          |c AS (SELECT CAST(count(step1_us) AS BIGINT) AS n_step1,
          |  CAST(count(step2_us) AS BIGINT) AS n_step2,
          |  CAST(count(step3_us) AS BIGINT) AS n_step3 FROM s3),
          |g12 AS (SELECT step2_us - step1_us AS gap, user_id FROM s3
          |  WHERE step2_us IS NOT NULL),
          |m12 AS (SELECT gap AS median_gap12_us FROM (
          |  SELECT gap, row_number() OVER (ORDER BY gap, user_id) AS rn,
          |    count(*) OVER () AS n FROM g12) WHERE rn = (n - 1) // 2 + 1),
          |g23 AS (SELECT step3_us - step2_us AS gap, user_id FROM s3
          |  WHERE step3_us IS NOT NULL),
          |m23 AS (SELECT gap AS median_gap23_us FROM (
          |  SELECT gap, row_number() OVER (ORDER BY gap, user_id) AS rn,
          |    count(*) OVER () AS n FROM g23) WHERE rn = (n - 1) // 2 + 1)
          |SELECT c.n_step1, c.n_step2, c.n_step3,
          |  m12.median_gap12_us, m23.median_gap23_us
          |FROM c LEFT JOIN m12 ON true LEFT JOIN m23 ON true""".stripMargin,
      // the integer Mann-Whitney chain: tied scores at average rank via
      // 2*avgrank = 2*cum_below + cnt + 1, one integral division at the end
      "eval_auc" ->
        """WITH e AS (SELECT CAST(round(value * 10000) AS BIGINT) AS s,
          |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
          |g AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
          |    CAST(sum(pos) AS BIGINT) AS pos FROM e GROUP BY s),
          |c AS (SELECT *, coalesce(sum(cnt) OVER (ORDER BY s
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM g)
          |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
          |  CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
          |  CAST(((sum(CAST(pos AS HUGEINT) * (2 * cum + cnt + 1))
          |        - CAST(sum(pos) AS HUGEINT) * (sum(pos) + 1)) * 1048576)
          |    // (2 * sum(pos) * sum(cnt - pos)) AS BIGINT) AS auc_q
          |FROM c""".stripMargin,
      "events_pivot" ->
        """SELECT user_id,
          |  count(*) FILTER (event_type = 'click') AS n_click,
          |  count(*) FILTER (event_type = 'error') AS n_error,
          |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
          |  count(*) FILTER (event_type = 'signup') AS n_signup,
          |  count(*) FILTER (event_type = 'view') AS n_view
          |FROM events GROUP BY user_id""".stripMargin,
      // ROLLUP with the grouping-id bit order spelled explicitly on both
      // sides (GROUPING(dt)*2 + GROUPING(event_type))
      "events_rollup" ->
        """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_type,
          |  CAST(round(value * 10000) AS BIGINT) AS v FROM events)
          |SELECT dt, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(v) AS BIGINT) AS sum_value,
          |  CAST(GROUPING(dt) * 2 + GROUPING(event_type) AS BIGINT) AS gid
          |FROM e GROUP BY ROLLUP (dt, event_type)""".stripMargin,
      // the state chain replayed, not collapsed to a direct aggregation:
      // per-(day, user) partials first, then the range merge over state
      // rows — the oracle pins the two-step semantics
      "incremental_agg" ->
        """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, user_id,
          |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |s AS (SELECT dt, user_id, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(v) AS BIGINT) AS sum_value,
          |  min(v) AS min_value, max(v) AS max_value
          |  FROM e GROUP BY dt, user_id)
          |SELECT user_id, CAST(sum(n) AS BIGINT) AS n,
          |  CAST(sum(sum_value) AS BIGINT) AS sum_value,
          |  min(min_value) AS min_value, max(max_value) AS max_value
          |FROM s WHERE dt >= '2024-01-08' AND dt <= '2024-01-14'
          |GROUP BY user_id""".stripMargin,
      // per-key counts → deterministic top-20 → ppm share and
      // mean-relative heaviness, HUGEINT products with integral //
      "key_skew_profile" ->
        """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
          |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS HUGEINT) AS nr,
          |  CAST(count(*) AS BIGINT) AS nk FROM c),
          |top AS (SELECT key, n,
          |  row_number() OVER (ORDER BY n DESC, key NULLS FIRST) AS rank
          |  FROM c ORDER BY n DESC, key NULLS FIRST LIMIT 20)
          |SELECT rank, key, n,
          |  CAST((CAST(n AS HUGEINT) * 1000000) // nr AS BIGINT) AS share_ppm,
          |  CAST((CAST(n AS HUGEINT) * nk * 1000000) // nr AS BIGINT)
          |    AS skew_x_ppm
          |FROM top, t""".stripMargin,
      // (x − min)·2^20 // (max − min): all-integer, no float step anywhere
      "feature_minmax" ->
        """WITH e AS (SELECT event_id, event_type,
          |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |s AS (SELECT event_type, min(v) AS mn, max(v) AS mx
          |  FROM e GROUP BY event_type)
          |SELECT event_id, e.event_type, v,
          |  CASE WHEN mx = mn THEN NULL
          |       ELSE CAST((CAST(v AS HUGEINT) - mn) * 1048576
          |         // (CAST(mx AS HUGEINT) - mn) AS BIGINT) END AS scaled_q
          |FROM e JOIN s USING (event_type)""".stripMargin,
      // z = (n·x − Σx)/√(n·Σx² − Σx²): exact-integer numerator and
      // radicand, one cast + sqrt + division tail — engine-identical
      "feature_standardize" ->
        """WITH e AS (SELECT event_id, event_type,
          |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |  CAST(sum(v) AS HUGEINT) AS sx,
          |  sum(CAST(v AS HUGEINT) * v) AS sxx FROM e GROUP BY event_type)
          |SELECT event_id, e.event_type, v,
          |  CASE WHEN n * sxx - sx * sx <= 0 THEN NULL
          |       ELSE round(CAST(n * v - sx AS DOUBLE)
          |         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 6) END AS z
          |FROM e JOIN s USING (event_type)""".stripMargin,
      // CUBE adds the per-type-across-days set to rollup's three; same
      // explicit GROUPING bit order
      "events_cube" ->
        """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_type,
          |  CAST(round(value * 10000) AS BIGINT) AS v FROM events)
          |SELECT dt, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(v) AS BIGINT) AS sum_value,
          |  CAST(GROUPING(dt) * 2 + GROUPING(event_type) AS BIGINT) AS gid
          |FROM e GROUP BY CUBE (dt, event_type)""".stripMargin,
      // smoothed mean encoding with the global mean's denominator cleared:
      // enc_q = (N·sum_c + m·S)·2^20 // (N·(n_c + m)), all-integer
      // count(target): NULL targets count into neither n nor s (the
      // partially-labeled-data contract; value is never NULL here, so the
      // twin is exercised by the spec's hand case)
      "target_encode" ->
        """WITH c AS (SELECT event_type,
          |  CAST(count(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS n,
          |  sum(CAST(round(value * 10000) AS BIGINT)) AS s
          |  FROM events GROUP BY event_type),
          |t AS (SELECT sum(n) AS nt, sum(s) AS st FROM c)
          |SELECT event_type, n,
          |  CAST(((nt * s + 20 * st) * 1048576) // (nt * (n + 20)) AS BIGINT)
          |    AS enc_q
          |FROM c, t""".stripMargin,
      // discrete-quartile robust scale: the rank-⌊(n−1)q⌋+1 picks replayed
      // with an explicit row_number, and the integral division spelled
      // toward-zero (DuckDB's // floors; Spark's div truncates)
      "feature_robust" ->
        """WITH nn AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
          |rk AS (SELECT lang, n_chars,
          |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
          |    count(*) OVER (PARTITION BY lang) AS n FROM nn),
          |st AS (SELECT lang,
          |    max(CASE WHEN rn = (n - 1) // 2 + 1 THEN n_chars END) AS med,
          |    max(CASE WHEN rn = (n - 1) // 4 + 1 THEN n_chars END) AS q1,
          |    max(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN n_chars END) AS q3
          |  FROM rk GROUP BY lang)
          |SELECT d.doc_id, d.lang, d.n_chars,
          |  CASE WHEN s.q3 = s.q1 THEN NULL
          |       WHEN (d.n_chars - s.med) >= 0
          |         THEN CAST(((d.n_chars - s.med) * 1048576) // (s.q3 - s.q1) AS BIGINT)
          |       ELSE CAST(-(((s.med - d.n_chars) * 1048576) // (s.q3 - s.q1)) AS BIGINT)
          |  END AS robust_q
          |FROM documents d JOIN st s ON d.lang = s.lang""".stripMargin,
      // SQL-standard percent_rank in the integral ppm lane: RANK with
      // shared ties, (rank-1)*1e6 div (n-1), single-row groups at 0
      "feature_percent_rank" ->
        """WITH ev AS (SELECT event_id, event_type,
          |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |rk AS (SELECT event_type, v,
          |    rank() OVER (PARTITION BY event_type ORDER BY v) AS rk,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM ev WHERE v IS NOT NULL),
          |pr AS (SELECT DISTINCT event_type, v,
          |    CASE WHEN n = 1 THEN 0
          |         ELSE CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT) END AS ppm
          |  FROM rk)
          |SELECT e.event_id, e.event_type, e.v, p.ppm AS v_pr_ppm
          |FROM ev e LEFT JOIN pr p ON p.event_type = e.event_type AND p.v = e.v""".stripMargin,
      // rank-pick winsorization bounds replayed with an explicit
      // row_number; the clip itself is plain least/greatest
      "feature_winsorize" ->
        """WITH ev AS (SELECT event_id, event_type,
          |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
          |rk AS (SELECT event_type, v,
          |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM ev WHERE v IS NOT NULL),
          |st AS (SELECT event_type,
          |    max(CASE WHEN rn = 50000 * (n - 1) // 1000000 + 1 THEN v END) AS lo,
          |    max(CASE WHEN rn = 950000 * (n - 1) // 1000000 + 1 THEN v END) AS hi
          |  FROM rk GROUP BY event_type)
          |SELECT e.event_id, e.event_type, e.v,
          |  CASE WHEN e.v IS NULL THEN NULL
          |       ELSE least(greatest(e.v, s.lo), s.hi) END AS v_w
          |FROM ev e JOIN st s USING (event_type)""".stripMargin,
      // signed hashing trick: bucket from md5 hex 1-6, sign from hex 7
      // parity, within-(id, bucket) collisions SUM
      "feature_hash" ->
        """WITH f AS (
          |  SELECT doc_id, 'lang=' || lang AS s FROM documents WHERE lang IS NOT NULL
          |  UNION ALL
          |  SELECT doc_id, 'source=' || source FROM documents WHERE source IS NOT NULL)
          |SELECT doc_id,
          |  CAST(concat('0x', substr(md5(s), 1, 6)) AS BIGINT) % 64 AS bucket,
          |  CAST(sum(1 - CAST(concat('0x', substr(md5(s), 7, 1)) AS BIGINT) % 2 * 2)
          |    AS BIGINT) AS w
          |FROM f GROUP BY 1, 2""".stripMargin,
      // x<y<z triangles by plain numeric order — the operator's
      // degree-ordered orientation is a plan strategy, invisible in results
      "triangle_count" ->
        """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
          |co AS (SELECT a.s AS s1, b.s AS s2 FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s
          |  GROUP BY 1, 2 HAVING count(*) >= 28),
          |tri AS (SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
          |  FROM co e1 JOIN co e2 ON e2.s1 = e1.s1 AND e2.s2 > e1.s2
          |  JOIN co e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2),
          |nodes AS (SELECT DISTINCT s FROM (
          |  SELECT s1 AS s FROM co UNION ALL SELECT s2 FROM co)),
          |cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM (
          |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
          |  UNION ALL SELECT z FROM tri) GROUP BY 1)
          |SELECT n.s AS id, coalesce(c.n, 0) AS n_triangles
          |FROM nodes n LEFT JOIN cnt c ON c.id = n.s""".stripMargin,
      // successor pairing under the (ts, event_id) total order, then exact
      // pair counts with a fixed-point ppm row probability (integer //)
      "event_transitions" ->
        """WITH o AS (SELECT user_id, event_type,
          |  lead(event_type) OVER (PARTITION BY user_id
          |    ORDER BY epoch_us(ts), event_id) AS next_type FROM events),
          |p AS (SELECT event_type AS from_type, next_type AS to_type,
          |  CAST(count(*) AS BIGINT) AS n FROM o
          |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
          |SELECT from_type, to_type, n,
          |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
          |    AS p_ppm
          |FROM p""".stripMargin,
      // per-user first-8 path under the same total order, exact path counts,
      // deterministic top-20 by (n_keys desc, path)
      "event_paths" ->
        """WITH o AS (SELECT user_id, event_type,
          |  row_number() OVER (PARTITION BY user_id
          |    ORDER BY epoch_us(ts), event_id) AS rn FROM events),
          |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          |  FROM o WHERE rn <= 8 GROUP BY user_id)
          |SELECT path, CAST(count(*) AS BIGINT) AS n_keys FROM p
          |GROUP BY path ORDER BY n_keys DESC, path LIMIT 20""".stripMargin,
      "bloom_semi_join" ->
        """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
          |WHERE l_orderkey IN (
          |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin,
      "vocab_coverage" ->
        s"""WITH $toksCte,
           |tok AS (SELECT unnest(toks) AS token FROM t),
           |kc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
           |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM kc),
           |top AS (SELECT token, cnt,
           |  row_number() OVER (ORDER BY cnt DESC, token) AS rank,
           |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING)
           |    AS BIGINT) AS cum
           |  FROM kc ORDER BY cnt DESC, token LIMIT 30)
           |SELECT rank, token, cnt, cum * 1000000 // total AS cum_ppm
           |FROM top, tot""".stripMargin,
      "pmi_pairs" ->
        s"""WITH $toksCte,
           |pos AS (SELECT doc_id, unnest(toks) AS tok,
           |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
           |uni AS (SELECT tok, count(*) AS c FROM pos GROUP BY tok),
           |pr AS (SELECT p1.tok AS a, p2.tok AS b
           |  FROM pos p1 JOIN pos p2 ON p1.doc_id = p2.doc_id
           |    AND p2.pos > p1.pos AND p2.pos <= p1.pos + 2),
           |pc AS (SELECT a, b, count(*) AS n_pairs FROM pr GROUP BY a, b
           |  HAVING count(*) >= 5)
           |SELECT a, b, n_pairs, ua.c AS c_a, ub.c AS c_b,
           |  CAST(n_pairs * 1000000000 // (ua.c * ub.c) AS BIGINT) AS pmi_scaled
           |FROM pc JOIN uni ua ON ua.tok = pc.a JOIN uni ub ON ub.tok = pc.b
           |ORDER BY pmi_scaled DESC, a, b LIMIT 40""".stripMargin,
      "snapshot_diff" ->
        """WITH b AS (
          |  SELECT doc_id, text || CASE WHEN doc_id % 13 = 0 THEN ' revised' ELSE '' END AS text
          |  FROM documents WHERE doc_id % 17 <> 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 23 = 0),
          |o AS (SELECT doc_id, md5(coalesce(md5(text), repeat('~', 32))) AS old_fp
          |      FROM documents),
          |n AS (SELECT doc_id, md5(coalesce(md5(text), repeat('~', 32))) AS new_fp FROM b),
          |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_fp, new_fp,
          |  CASE WHEN old_fp IS NULL THEN 'added' WHEN new_fp IS NULL THEN 'removed'
          |       WHEN old_fp <> new_fp THEN 'changed' ELSE 'unchanged' END AS status
          |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
          |SELECT doc_id, status, old_fp, new_fp FROM j
          |WHERE status <> 'unchanged'""".stripMargin,
      "sample_priority" ->
        """SELECT doc_id, lang, source,
          |  md5('r5:' || CAST(doc_id AS VARCHAR)) AS priority
          |FROM documents ORDER BY priority, doc_id LIMIT 60""".stripMargin,
      // the per-group A-ES cut: same min-of-w priority, row_number <= k
      // inside each language
      "sample_weighted_grouped" ->
        """WITH t AS (SELECT doc_id, lang, source,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0) AS toks FROM documents),
          |w AS (SELECT doc_id, lang, source,
          |  CAST(least(len(toks), 256) AS BIGINT) AS weight FROM t),
          |p AS (SELECT doc_id, lang, source, weight,
          |  list_min(list_transform(range(1, CAST(weight AS INT) + 1),
          |    j -> md5('w15g:' || CAST(doc_id AS VARCHAR) || ':' ||
          |              CAST(j AS VARCHAR)))) AS priority
          |  FROM w WHERE weight >= 1)
          |SELECT doc_id, lang, source, weight, priority FROM (
          |  SELECT *, row_number() OVER (PARTITION BY lang
          |    ORDER BY priority, doc_id) AS rn FROM p)
          |WHERE rn <= 12""".stripMargin,
      // A-ES weighted bottom-k: min of w seeded md5 draws per row (the
      // exponential race, no logarithm), bottom-k by (priority, key)
      "sample_weighted" ->
        """WITH t AS (SELECT doc_id, lang, source,
          |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0) AS toks FROM documents),
          |w AS (SELECT doc_id, lang, source,
          |  CAST(least(len(toks), 256) AS BIGINT) AS weight FROM t),
          |p AS (SELECT doc_id, lang, source, weight,
          |  list_min(list_transform(range(1, CAST(weight AS INT) + 1),
          |    j -> md5('w15:' || CAST(doc_id AS VARCHAR) || ':' ||
          |              CAST(j AS VARCHAR)))) AS priority
          |  FROM w WHERE weight >= 1)
          |SELECT doc_id, lang, source, weight, priority
          |FROM p ORDER BY priority, doc_id LIMIT 50""".stripMargin,
      // U-shape attribution replay: the identical window join → (ts, id)
      // rank → integral credit ladder (remainder to the first touch) →
      // channel rollup; the channel-NULL row carries the unattributed
      // conversions
      "attribution_position" ->
        s"""WITH conv AS (SELECT user_id AS u, event_id AS cid,
           |    epoch_us(ts) AS cts FROM events WHERE event_type = 'purchase'),
           |tch AS (SELECT user_id AS u, event_id AS tid, epoch_us(ts) AS tts,
           |    event_type AS ch FROM events WHERE event_type != 'purchase'),
           |j AS (SELECT conv.cid, tch.tid, tch.tts, tch.ch
           |  FROM conv LEFT JOIN tch ON conv.u = tch.u
           |    AND tch.tts < conv.cts
           |    AND tch.tts >= conv.cts - ${3L * 86400000000L}),
           |r AS (SELECT cid, tts, ch,
           |    CASE WHEN tts IS NOT NULL THEN row_number()
           |      OVER (PARTITION BY cid ORDER BY tts, tid) END AS rk,
           |    count(tts) OVER (PARTITION BY cid) AS n
           |  FROM j),
           |c AS (SELECT cid, ch,
           |    CASE WHEN tts IS NULL THEN NULL
           |         WHEN n = 1 THEN 1000000
           |         WHEN n = 2 THEN 500000
           |         WHEN rk = 1 THEN 400000 + (200000 % (n - 2))
           |         WHEN rk = n THEN 400000
           |         ELSE 200000 // (n - 2) END AS credit
           |  FROM r)
           |SELECT ch AS channel, count(credit) AS n_touches,
           |  CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
           |  CAST(coalesce(sum(credit), 0) AS BIGINT) AS credit_ppm
           |FROM c GROUP BY 1""".stripMargin,
      // trend replay: identical HUGEINT moment sums then the same
      // correctly-rounded IEEE closed-form steps (the correlations rule)
      "trend_lines" ->
        """WITH e AS (SELECT event_type AS g,
          |    CAST(epoch_us(ts) // 1000000 AS HUGEINT) AS t,
          |    CAST(CAST(round(value * 10000) AS BIGINT) AS HUGEINT) AS v
          |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
          |m AS (SELECT g, count(*) AS n, sum(t) AS st, sum(t * t) AS stt,
          |    sum(v) AS sv, sum(v * v) AS svv, sum(t * v) AS stv
          |  FROM e GROUP BY 1),
          |d AS (SELECT g, n,
          |    CAST(n * stt - st * st AS DOUBLE) AS sxx,
          |    CAST(n * svv - sv * sv AS DOUBLE) AS syy,
          |    CAST(n * stv - st * sv AS DOUBLE) AS sxy,
          |    CAST(st AS DOUBLE) AS std, CAST(sv AS DOUBLE) AS svd
          |  FROM m)
          |SELECT g AS event_type, n,
          |  CASE WHEN sxx != 0 THEN round(sxy / sxx * 86400.0, 6) END
          |    AS slope_per_day,
          |  CASE WHEN sxx != 0
          |    THEN round((svd - sxy / sxx * std) / CAST(n AS DOUBLE), 6) END
          |    AS intercept,
          |  CASE WHEN sxx * syy != 0
          |    THEN round(sxy * sxy / (sxx * syy), 6) END AS r2
          |FROM d""".stripMargin,
      // k-anonymity replay: plain two-level grouping; SQL GROUP BY is
      // null-safe exactly like the engine's groupBy
      "k_anonymity" ->
        """SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
          |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
          |  count(*) >= 10 AS k_anonymous
          |FROM customer GROUP BY 1, 2""".stripMargin,
      "fd_check" ->
        """SELECT l_orderkey, count(*) AS n_rows,
          |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_rhs
          |FROM lineitem GROUP BY 1
          |HAVING count(DISTINCT l_suppkey) > 1""".stripMargin,
      // interval-intersection replay: gaps-and-islands flatten per side
      // (the flattenIntervals rule verbatim), then a direct overlap join
      // of the two disjoint families clipped to [max(starts), min(ends))
      "interval_intersect" -> {
        def flat(tpe: String, n: String) =
          s"""${n}0 AS (SELECT u, t AS s, t + 1800000000 AS e FROM ev
             |  WHERE event_type = '$tpe'),
             |${n}1 AS (SELECT u, s, e,
             |    CASE WHEN max(e) OVER (PARTITION BY u ORDER BY s, e
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        IS NULL
             |      OR s > max(e) OVER (PARTITION BY u ORDER BY s, e
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS nw
             |  FROM ${n}0),
             |$n AS (SELECT u, min(s) AS fs, max(e) AS fe FROM (
             |    SELECT u, s, e, sum(nw) OVER (PARTITION BY u ORDER BY s, e
             |      ROWS UNBOUNDED PRECEDING) AS isl FROM ${n}1)
             |  GROUP BY u, isl)""".stripMargin
        s"""WITH ev AS MATERIALIZED (
           |  SELECT user_id AS u, epoch_us(ts) AS t, event_type FROM events
           |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |${flat("view", "af")},
           |${flat("click", "bf")}
           |SELECT af.u AS user_id,
           |  least(af.fe, bf.fe) - greatest(af.fs, bf.fs) AS duration_us,
           |  greatest(af.fs, bf.fs) AS from_us,
           |  least(af.fe, bf.fe) AS to_us
           |FROM af JOIN bf ON af.u = bf.u
           |WHERE af.fs < bf.fe AND bf.fs < af.fe""".stripMargin
      },
      // gap replay: the identical per-key lag; the tie argument makes the
      // emitted (prev, cur) pair set order-independent in both engines
      "activity_gaps" ->
        """WITH base AS (SELECT user_id AS k, epoch_us(ts) AS t FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |g AS (SELECT k, lag(t) OVER (PARTITION BY k ORDER BY t) AS p, t
          |  FROM base)
          |SELECT k AS user_id, t - p AS gap_us,
          |  p AS gap_start_us, t AS gap_end_us
          |FROM g WHERE t - p > 172800000000""".stripMargin,
      // burstiness replay: identical per-key lag gaps (the tie argument
      // makes the gap MULTISET order-free), HUGEINT moment sums, the
      // variance/mean^2 identity as one integral division
      "interarrival_stats" ->
        """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS t FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |g AS (SELECT k, t,
          |    t - lag(t) OVER (PARTITION BY k ORDER BY t) AS gp
          |  FROM e),
          |a AS (SELECT k,
          |    CAST(count(*) AS BIGINT) AS n_events,
          |    CAST(count(gp) AS BIGINT) AS n_gaps,
          |    CAST(max(t) - min(t) AS BIGINT) AS span_us,
          |    CAST(sum(gp) AS HUGEINT) AS s1,
          |    CAST(sum(CAST(gp AS HUGEINT) * gp) AS HUGEINT) AS s2
          |  FROM g GROUP BY 1)
          |SELECT k AS user_id, n_events, n_gaps, span_us,
          |  CASE WHEN n_gaps = 0 THEN NULL
          |    ELSE CAST(s1 // n_gaps AS BIGINT) END AS mean_gap_us,
          |  CASE WHEN s1 IS NULL OR s1 = 0 THEN NULL
          |    ELSE CAST(((CAST(n_gaps AS HUGEINT) * s2 - s1 * s1) * 1000000)
          |      // (s1 * s1) AS BIGINT) END AS cv2_ppm
          |FROM a""".stripMargin,
      // MAD replay: exact lower medians as rank (n+1)//2 order statistics
      // (never an interpolated midpoint), then the integral band test
      "mad_outliers" ->
        """WITH base AS MATERIALIZED (
          |  SELECT event_id, event_type AS g,
          |    CAST(round(value * 10000) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |m AS (SELECT g, v AS med FROM (
          |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
          |    count(*) OVER (PARTITION BY g) AS n FROM base)
          |  WHERE rn = (n + 1) // 2),
          |d AS MATERIALIZED (SELECT base.event_id, base.g, base.v, m.med,
          |    abs(base.v - m.med) AS adev
          |  FROM base JOIN m USING (g)),
          |md AS (SELECT g, adev AS mad FROM (
          |  SELECT g, adev, row_number() OVER (PARTITION BY g ORDER BY adev) AS rn,
          |    count(*) OVER (PARTITION BY g) AS n FROM d)
          |  WHERE rn = (n + 1) // 2)
          |SELECT d.event_id, d.g AS event_type, d.v AS value_e4,
          |  d.med AS med_fp, md.mad AS mad_fp,
          |  CASE WHEN md.mad > 0
          |    THEN CAST(d.adev * 1000000 // md.mad AS BIGINT) END AS dev_ppm
          |FROM d JOIN md USING (g)
          |WHERE (md.mad = 0 AND d.adev > 0)
          |   OR (md.mad > 0 AND d.adev * 1000000 > md.mad * 4450000)""".stripMargin,
      "value_outliers" ->
        """WITH e AS (SELECT event_id, event_type,
          |  CAST(round(value * 10000) AS BIGINT) AS value_e4 FROM events),
          |st AS (SELECT event_type, count(*) AS n, CAST(sum(value_e4) AS BIGINT) AS s,
          |  CAST(sum(value_e4 * value_e4) AS BIGINT) AS ss FROM e GROUP BY event_type),
          |m AS (SELECT event_type, CAST(s AS DOUBLE) / n AS mu,
          |  sqrt(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sigma
          |  FROM st)
          |SELECT e.event_id, e.event_type, e.value_e4,
          |  round((CAST(value_e4 AS DOUBLE) - mu) / sigma, 6) AS z_score
          |FROM e JOIN m USING (event_type)
          |WHERE sigma > 0 AND abs((CAST(value_e4 AS DOUBLE) - mu) / sigma) > 2.5""".stripMargin,
      "event_type_pivot" ->
        """SELECT user_id,
          |  count(*) FILTER (WHERE event_type = 'click') AS click,
          |  count(*) FILTER (WHERE event_type = 'error') AS "error",
          |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
          |  count(*) FILTER (WHERE event_type = 'view') AS "view"
          |FROM events GROUP BY user_id""".stripMargin,
      "q1_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
          |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
          |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |  count(*) AS n_rows
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
      "q5_local_supplier" ->
        """SELECT n_name,
          |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
          |    AS BIGINT) AS revenue_e2
          |FROM lineitem l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey
          |JOIN supplier s ON l.l_suppkey = s.s_suppkey
          |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
          |JOIN nation n ON s.s_nationkey = n.n_nationkey
          |JOIN region r ON n.n_regionkey = r.r_regionkey
          |WHERE r.r_name = 'ASIA'
          |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY n_name""".stripMargin,
      "cohort_retention" ->
        """WITH w AS (SELECT user_id, epoch_us(date_trunc('week', ts)) AS act_week_us
          |  FROM events),
          |f AS (SELECT user_id, min(act_week_us) AS cohort_week_us FROM w GROUP BY user_id)
          |SELECT cohort_week_us,
          |  (act_week_us - cohort_week_us) // 604800000000 AS weeks_since,
          |  CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
          |FROM w JOIN f USING (user_id)
          |GROUP BY 1, 2""".stripMargin,
      // overlap replay: distinct (source, token) membership, token-keyed
      // pair intersections, dense a<b grid with zero-fill, integral
      // jaccard + both containments
      "vocab_overlap" ->
        """WITH vt AS (SELECT DISTINCT source AS g, t FROM (
          |  SELECT source, unnest(list_filter(
          |    string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0)) AS t
          |  FROM documents
          |  WHERE source IS NOT NULL AND text IS NOT NULL)),
          |gs AS (SELECT DISTINCT source AS g FROM documents
          |  WHERE source IS NOT NULL AND text IS NOT NULL),
          |sz AS (SELECT gs.g,
          |    CAST(coalesce(c.n, 0) AS BIGINT) AS n
          |  FROM gs LEFT JOIN (SELECT g, count(*) AS n FROM vt GROUP BY 1) c
          |    USING (g)),
          |cm AS (SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS c
          |  FROM vt a JOIN vt b ON a.t = b.t AND a.g < b.g GROUP BY 1, 2),
          |grid AS (SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b
          |  FROM sz a JOIN sz b ON a.g < b.g)
          |SELECT grid.ga AS group_a, grid.gb AS group_b,
          |  grid.n_a, grid.n_b,
          |  coalesce(cm.c, 0) AS n_common,
          |  grid.n_a + grid.n_b - coalesce(cm.c, 0) AS n_union,
          |  CASE WHEN grid.n_a + grid.n_b - coalesce(cm.c, 0) = 0 THEN 0
          |    ELSE CAST(CAST(coalesce(cm.c, 0) AS HUGEINT) * 1000000
          |    // (grid.n_a + grid.n_b - coalesce(cm.c, 0)) AS BIGINT) END
          |    AS jaccard_ppm,
          |  CASE WHEN grid.n_a = 0 THEN 0
          |    ELSE CAST(CAST(coalesce(cm.c, 0) AS HUGEINT) * 1000000
          |    // grid.n_a AS BIGINT) END AS containment_a_ppm,
          |  CASE WHEN grid.n_b = 0 THEN 0
          |    ELSE CAST(CAST(coalesce(cm.c, 0) AS HUGEINT) * 1000000
          |    // grid.n_b AS BIGINT) END AS containment_b_ppm
          |FROM grid LEFT JOIN cm ON cm.ga = grid.ga AND cm.gb = grid.gb""".stripMargin,
      // novelty replay: bucketed token stream, occurrence + distinct-type
      // counts per bucket, first-bucket arg-min for the Heaps increment,
      // running cumulative vocabulary, integral ppm divisions
      "vocab_novelty" ->
        """WITH tok AS (SELECT doc_id // 500 AS b, unnest(list_filter(
          |    string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0)) AS t
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          |occ AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens
          |  FROM tok GROUP BY 1),
          |pairs AS (SELECT DISTINCT b, t FROM tok),
          |types AS (SELECT b, CAST(count(*) AS BIGINT) AS n_types
          |  FROM pairs GROUP BY 1),
          |firstb AS (SELECT t, min(b) AS b FROM pairs GROUP BY 1),
          |news AS (SELECT b, CAST(count(*) AS BIGINT) AS n_new_types
          |  FROM firstb GROUP BY 1),
          |j AS (SELECT occ.b, occ.n_tokens, types.n_types,
          |    coalesce(news.n_new_types, 0) AS n_new_types
          |  FROM occ JOIN types USING (b) LEFT JOIN news USING (b))
          |SELECT b AS bucket, n_tokens, n_types, n_new_types,
          |  CAST(sum(n_new_types) OVER (ORDER BY b
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS vocab_cum,
          |  CAST(CAST(n_new_types AS HUGEINT) * 1000000 // n_types
          |    AS BIGINT) AS novelty_ppm,
          |  CAST(CAST(n_types AS HUGEINT) * 1000000 // n_tokens
          |    AS BIGINT) AS ttr_ppm
          |FROM j""".stripMargin,
      // LTV replay: first-week cohorts, (cohort, age) distinct-active +
      // micro sums, the running cumulative, age-0 sizes, integral
      // per-member division (non-negative value lane)
      "cohort_ltv" ->
        """WITH e AS (SELECT user_id,
          |    epoch_us(date_trunc('week', ts)) AS w,
          |    CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS x
          |  FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL),
          |f AS (SELECT user_id, min(w) AS cw FROM e GROUP BY 1),
          |a AS (SELECT f.cw, (e.w - f.cw) // 604800000000 AS age,
          |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
          |    CAST(sum(e.x) AS BIGINT) AS value_micro
          |  FROM e JOIN f USING (user_id) GROUP BY 1, 2),
          |c AS (SELECT cw, age, n_active, value_micro,
          |    CAST(sum(value_micro) OVER (PARTITION BY cw ORDER BY age
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_value_micro
          |  FROM a),
          |sz AS (SELECT cw, n_active AS size FROM a WHERE age = 0)
          |SELECT c.cw AS cohort_week_us, c.age AS weeks_since,
          |  c.n_active, sz.size AS cohort_size, c.value_micro,
          |  c.cum_value_micro,
          |  CAST(CAST(c.cum_value_micro AS HUGEINT) // sz.size AS BIGINT)
          |    AS cum_per_user_micro
          |FROM c JOIN sz USING (cw)""".stripMargin,
      "tokenize_ids" ->
        s"""WITH $toksCte,
           |$vocabCtes,
           |m AS (SELECT p.doc_id, p.pos, coalesce(v.token_id, -1) AS tid,
           |  CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM pos p LEFT JOIN vocab v USING (token)),
           |agg AS (SELECT doc_id,
           |  string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids_str,
           |  count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov
           |  FROM m GROUP BY doc_id)
           |SELECT t.doc_id, coalesce(agg.ids_str, '') AS ids_str,
           |  coalesce(agg.n_tokens, 0) AS n_tokens, coalesce(agg.n_oov, 0) AS n_oov
           |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
      // encode∘decode collapses to per-token vocab substitution: in-vocab
      // tokens survive, OOV positions render '<unk>' — same vocab CTEs as
      // tokenize_ids, so the two oracles can't drift
      "decode_ids" ->
        s"""WITH $toksCte,
           |$vocabCtes,
           |m AS (SELECT p.doc_id, p.pos,
           |  CASE WHEN v.token_id IS NULL THEN '<unk>' ELSE p.token END AS tok,
           |  CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM pos p LEFT JOIN vocab v USING (token)),
           |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS decoded,
           |  count(*) AS n_ids, CAST(sum(oov) AS BIGINT) AS n_unknown
           |  FROM m GROUP BY doc_id)
           |SELECT t.doc_id, coalesce(agg.decoded, '') AS decoded,
           |  coalesce(agg.n_ids, 0) AS n_ids, coalesce(agg.n_unknown, 0) AS n_unknown
           |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
      // KMV replay: one shared register CTE chain (distinct tokens →
      // 60-bit md5 hash → per-source bottom-256) serves both kmv oracles
      // so the replays cannot drift; 255·2^60 rides HUGEINT, `//` is the
      // integral division matching the engine's DECIMAL(38,0) div
      "kmv_distinct" ->
        s"""WITH $KmvRegCtes
           |SELECT source, count(*) AS n_registers,
           |  CASE WHEN count(*) < 256 OR max(kmv_h) <= 0 THEN count(*)
           |    ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
           |      // max(kmv_h) AS BIGINT) END AS est_distinct
           |FROM reg GROUP BY source""".stripMargin,
      "kmv_jaccard" ->
        s"""WITH $KmvRegCtes,
           |gs AS (SELECT DISTINCT source AS g FROM reg),
           |pr AS (SELECT a.g AS group_a, b.g AS group_b
           |  FROM gs a JOIN gs b ON a.g < b.g),
           |u AS (SELECT p.group_a, p.group_b, r.kmv_h,
           |    max(CASE WHEN r.source = p.group_a THEN 1 ELSE 0 END) AS ina,
           |    max(CASE WHEN r.source = p.group_b THEN 1 ELSE 0 END) AS inb
           |  FROM pr p JOIN reg r
           |    ON r.source = p.group_a OR r.source = p.group_b
           |  GROUP BY 1, 2, 3),
           |rk2 AS (SELECT *, row_number() OVER (
           |    PARTITION BY group_a, group_b ORDER BY kmv_h) AS r FROM u),
           |s AS (SELECT group_a, group_b,
           |    CAST(sum(ina * inb) AS BIGINT) AS n_common,
           |    count(*) AS n_union_sketch, max(kmv_h) AS hmax
           |  FROM rk2 WHERE r <= 256 GROUP BY 1, 2),
           |e AS (SELECT group_a, group_b, n_common, n_union_sketch,
           |    CASE WHEN n_union_sketch < 256 OR hmax <= 0 THEN n_union_sketch
           |      ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
           |        // hmax AS BIGINT) END AS union_est
           |  FROM s)
           |SELECT group_a, group_b, n_common, n_union_sketch, union_est,
           |  n_common * 1000000 // n_union_sketch AS jaccard_ppm,
           |  n_common * union_est // n_union_sketch AS intersect_est
           |FROM e""".stripMargin,
      // KS replay: the identical (group, value) count table → dense V×G
      // grid → per-group cumulative → cross-scaled |F̂_a·n_b − F̂_b·n_a|
      // pair max → min value attaining it; every quantity integer until
      // the final integral `//` (matching the engine's DECIMAL(38,0) div)
      "ks_test" ->
        """WITH base AS MATERIALIZED (
          |  SELECT CAST(event_type AS VARCHAR) AS g,
          |    CAST(value AS DOUBLE) AS v, count(*) AS c
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM base GROUP BY 1),
          |vals AS (SELECT DISTINCT v FROM base),
          |cum AS MATERIALIZED (SELECT t.g, vals.v,
          |    sum(coalesce(base.c, 0)) OVER (
          |      PARTITION BY t.g ORDER BY vals.v) AS f
          |  FROM vals CROSS JOIN (SELECT g FROM totals) t
          |  LEFT JOIN base ON base.g = t.g AND base.v = vals.v),
          |pv AS MATERIALIZED (SELECT a.v, a.g AS group_a, b.g AS group_b,
          |    ta.n AS n_a, tb.n AS n_b,
          |    abs(CAST(a.f AS HUGEINT) * tb.n - CAST(b.f AS HUGEINT) * ta.n) AS d
          |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
          |  JOIN totals ta ON ta.g = a.g JOIN totals tb ON tb.g = b.g),
          |m AS (SELECT group_a, group_b, n_a, n_b, max(d) AS dmax
          |  FROM pv GROUP BY 1, 2, 3, 4)
          |SELECT m.group_a, m.group_b, m.n_a, m.n_b,
          |  CAST(m.dmax AS BIGINT) AS d_num,
          |  CAST(m.dmax * 1000000 // (CAST(m.n_a AS HUGEINT) * m.n_b)
          |    AS BIGINT) AS ks_ppm,
          |  min(pv.v) AS d_at
          |FROM m JOIN pv ON pv.group_a = m.group_a AND pv.group_b = m.group_b
          |  AND pv.d = m.dmax
          |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,
      // sequence-pattern replay: (ts, item)-sorted per-user sequences →
      // in-list contiguous 3-grams → per-user dedup → support/share
      "sequence_patterns" ->
        """WITH s AS MATERIALIZED (
          |  SELECT user_id AS u, list_transform(list_sort(
          |      list(struct_pack(t := epoch_us(ts), i := event_type))),
          |    x -> x.i) AS seq
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |    AND event_type IS NOT NULL
          |  GROUP BY 1),
          |c AS MATERIALIZED (SELECT u, seq FROM s WHERE len(seq) <= 512),
          |n AS (SELECT count(*) AS nk FROM c),
          |g AS (SELECT u, unnest(list_distinct(
          |    CASE WHEN len(seq) >= 3 THEN
          |      list_transform(generate_series(1, len(seq) - 2),
          |        i -> array_to_string(seq[i:i+2], chr(31)))
          |    ELSE [] END)) AS pattern
          |  FROM c)
          |SELECT pattern, count(*) AS support,
          |  count(*) * 1000000 // (SELECT nk FROM n) AS share_ppm
          |FROM g GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
      // ACF replay: identical micro-unit bucket sums → one lag-exploded
      // self-join → HUGEINT moments → the correctly-rounded IEEE corr step
      "autocorrelation" ->
        """WITH base AS MATERIALIZED (
          |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS b,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS x
          |  FROM events
          |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |p AS (SELECT a.g, l.lag,
          |    CAST(a.x AS HUGEINT) AS xa, CAST(c.x AS HUGEINT) AS xc
          |  FROM base a
          |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
          |  JOIN base c ON c.g = a.g AND c.b = a.b + l.lag),
          |m AS (SELECT g, lag, count(*) AS n,
          |    sum(xa) AS sa, sum(xa * xa) AS saa,
          |    sum(xc) AS sc, sum(xc * xc) AS scc,
          |    sum(xa * xc) AS sac
          |  FROM p GROUP BY 1, 2),
          |d AS (SELECT g, lag, n,
          |    CAST(n * saa - sa * sa AS DOUBLE) AS sxx,
          |    CAST(n * scc - sc * sc AS DOUBLE) AS syy,
          |    CAST(n * sac - sa * sc AS DOUBLE) AS sxy
          |  FROM m)
          |SELECT g AS event_type, CAST(lag AS BIGINT) AS lag,
          |  n AS n_pairs,
          |  CASE WHEN sxx * syy != 0
          |    THEN round(sxy / sqrt(sxx * syy), 6) END AS acf
          |FROM d""".stripMargin,
      // cross-correlation replay: the autocorrelation chain with the
      // b-side series decoupled from the a-side (bucket-keyed join,
      // ordered pairs a != b, lag 0 included)
      "cross_correlation" ->
        """WITH base AS MATERIALIZED (
          |  SELECT CAST(event_type AS VARCHAR) AS s,
          |    epoch_us(ts) // 86400000000 AS b,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS x
          |  FROM events
          |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |p AS (SELECT a.s AS sa, c.s AS sb, l.lag,
          |    CAST(a.x AS HUGEINT) AS xa, CAST(c.x AS HUGEINT) AS xc
          |  FROM base a
          |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS lag) l
          |  JOIN base c ON c.b = a.b + l.lag AND c.s <> a.s),
          |m AS (SELECT sa, sb, lag, count(*) AS n,
          |    sum(xa) AS sa2, sum(xa * xa) AS saa,
          |    sum(xc) AS sc, sum(xc * xc) AS scc,
          |    sum(xa * xc) AS sac
          |  FROM p GROUP BY 1, 2, 3),
          |d AS (SELECT sa, sb, lag, n,
          |    CAST(n * saa - sa2 * sa2 AS DOUBLE) AS sxx,
          |    CAST(n * scc - sc * sc AS DOUBLE) AS syy,
          |    CAST(n * sac - sa2 * sc AS DOUBLE) AS sxy
          |  FROM m)
          |SELECT sa AS series_a, sb AS series_b,
          |  CAST(lag AS BIGINT) AS lag, n AS n_pairs,
          |  CASE WHEN sxx * syy != 0
          |    THEN round(sxy / sqrt(sxx * syy), 6) END AS ccf
          |FROM d""".stripMargin,
      // Benford replay: integer-lane first digit (head of the decimal
      // string), dense 9-digit grid, integral shares, half-sum TVD
      "benford_audit" ->
        """WITH e AS (SELECT event_type AS g,
          |    CAST(substr(CAST(abs(CAST(round(value * 10000) AS BIGINT))
          |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
          |  FROM events WHERE value IS NOT NULL
          |    AND CAST(round(value * 10000) AS BIGINT) != 0),
          |c AS MATERIALIZED (SELECT g, digit, count(*) AS n FROM e GROUP BY 1, 2),
          |t AS (SELECT g, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY 1),
          |d AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
          |  (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
          |  (9, 45757)) AS v(digit, exp_ppm)),
          |grid AS (SELECT t.g, CAST(d.digit AS BIGINT) AS digit,
          |    CAST(d.exp_ppm AS BIGINT) AS exp_ppm,
          |    coalesce(c.n, 0) AS n, t.nt
          |  FROM t CROSS JOIN d
          |  LEFT JOIN c ON c.g IS NOT DISTINCT FROM t.g
          |    AND c.digit = d.digit),
          |o AS (SELECT g, digit, n,
          |    CAST(n * 1000000 // nt AS BIGINT) AS obs_ppm, exp_ppm
          |  FROM grid)
          |SELECT g AS event_type, digit, n, obs_ppm, exp_ppm,
          |  CAST(sum(abs(obs_ppm - exp_ppm)) OVER (PARTITION BY g) // 2
          |    AS BIGINT) AS benford_tvd_ppm
          |FROM o""".stripMargin,
      // W1 replay: the ks_test grid with the step integral instead of the
      // max — Σ |ΔF·n| · micro-lattice gap, one integral division
      "emd_drift" ->
        """WITH base AS MATERIALIZED (
          |  SELECT CAST(event_type AS VARCHAR) AS g,
          |    CAST(value AS DOUBLE) AS v, count(*) AS c
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM base GROUP BY 1),
          |vals AS MATERIALIZED (SELECT DISTINCT v FROM base),
          |gaps AS (SELECT v, coalesce(
          |    CAST(floor(lead(v) OVER (ORDER BY v) * 1000000) AS HUGEINT)
          |      - CAST(floor(v * 1000000) AS HUGEINT),
          |    CAST(0 AS HUGEINT)) AS gap FROM vals),
          |cum AS MATERIALIZED (SELECT t.g, vals.v,
          |    sum(coalesce(base.c, 0)) OVER (
          |      PARTITION BY t.g ORDER BY vals.v) AS f
          |  FROM vals CROSS JOIN (SELECT g FROM totals) t
          |  LEFT JOIN base ON base.g = t.g AND base.v = vals.v),
          |pv AS (SELECT a.v, a.g AS group_a, b.g AS group_b,
          |    ta.n AS n_a, tb.n AS n_b,
          |    abs(CAST(a.f AS HUGEINT) * tb.n - CAST(b.f AS HUGEINT) * ta.n) AS d
          |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
          |  JOIN totals ta ON ta.g = a.g JOIN totals tb ON tb.g = b.g)
          |SELECT pv.group_a, pv.group_b, pv.n_a, pv.n_b,
          |  CAST(sum(pv.d * gaps.gap)
          |    // (CAST(pv.n_a AS HUGEINT) * pv.n_b) AS BIGINT) AS emd_micro
          |FROM pv JOIN gaps ON gaps.v = pv.v
          |GROUP BY 1, 2, 3, 4""".stripMargin,
      // rank-sum replay: the same pooled grid carrying point mass c, the
      // u2/tie-term pair aggregation, then the one correctly-rounded IEEE
      // closed-form z² step in the IDENTICAL operand order as the engine
      "rank_sum_test" ->
        """WITH base AS MATERIALIZED (
          |  SELECT CAST(event_type AS VARCHAR) AS g,
          |    CAST(value AS DOUBLE) AS v, count(*) AS c
          |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM base GROUP BY 1),
          |vals AS (SELECT DISTINCT v FROM base),
          |cum AS MATERIALIZED (SELECT t.g, vals.v,
          |    CAST(coalesce(base.c, 0) AS HUGEINT) AS c,
          |    CAST(sum(coalesce(base.c, 0)) OVER (
          |      PARTITION BY t.g ORDER BY vals.v) AS HUGEINT) AS f
          |  FROM vals CROSS JOIN (SELECT g FROM totals) t
          |  LEFT JOIN base ON base.g = t.g AND base.v = vals.v),
          |pr AS (SELECT a.g AS group_a, b.g AS group_b,
          |    sum(a.c * (b.f * 2 - b.c)) AS u2,
          |    sum((a.c + b.c) * (a.c + b.c) * (a.c + b.c) - (a.c + b.c)) AS tt
          |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
          |  GROUP BY 1, 2),
          |fin AS (SELECT pr.group_a, pr.group_b, ta.n AS n_a, tb.n AS n_b,
          |    pr.u2, pr.u2 - CAST(ta.n AS HUGEINT) * tb.n AS d,
          |    CAST(ta.n AS HUGEINT) + tb.n AS nn,
          |    (CAST(ta.n AS HUGEINT) + tb.n + 1) * (CAST(ta.n AS HUGEINT) + tb.n)
          |      * (CAST(ta.n AS HUGEINT) + tb.n - 1) - pr.tt AS w
          |  FROM pr JOIN totals ta ON ta.g = pr.group_a
          |    JOIN totals tb ON tb.g = pr.group_b)
          |SELECT group_a, group_b, n_a, n_b, CAST(u2 AS BIGINT) AS u2,
          |  CAST(u2 * 1000000 // (CAST(n_a AS HUGEINT) * n_b * 2)
          |    AS BIGINT) AS u_ppm,
          |  CASE WHEN w <> 0 THEN round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
          |      * 3.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)
          |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
          |        * CAST(w AS DOUBLE)), 6)
          |  END AS z2
          |FROM fin""".stripMargin,
      // concentration replay: per-entity micro totals, the two rank
      // windows, then HUGEINT moment sums and integral `//` indices in
      // the engine's operand order (all-positive lanes throughout)
      "concentration" ->
        """WITH base AS (
          |  SELECT CAST(o_orderpriority AS VARCHAR) AS g,
          |    CAST(o_custkey AS VARCHAR) AS e,
          |    sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS s
          |  FROM orders
          |  WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
          |    AND o_totalprice IS NOT NULL
          |  GROUP BY 1, 2),
          |r AS (SELECT g, s,
          |    row_number() OVER (PARTITION BY g ORDER BY s ASC, e ASC) AS ra,
          |    row_number() OVER (PARTITION BY g ORDER BY s DESC, e ASC) AS rd
          |  FROM base),
          |p AS (SELECT g, CAST(count(*) AS BIGINT) AS n_entities,
          |    sum(CAST(s AS HUGEINT)) AS t,
          |    sum(CAST(s AS HUGEINT) * s) AS sq,
          |    sum(CAST(ra AS HUGEINT) * s) AS rs,
          |    sum(CASE WHEN rd <= 10 THEN CAST(s AS HUGEINT) ELSE 0 END) AS tp
          |  FROM r GROUP BY 1)
          |SELECT g AS o_orderpriority, n_entities,
          |  CAST(t AS BIGINT) AS total_micro,
          |  CASE WHEN t > 0 THEN CAST(sq * 1000000 // (t * t) AS BIGINT)
          |  END AS hhi_ppm,
          |  CASE WHEN t > 0 THEN CAST((rs * 2 -
          |      (CAST(n_entities AS HUGEINT) + 1) * t) * 1000000
          |    // (CAST(n_entities AS HUGEINT) * t) AS BIGINT)
          |  END AS gini_ppm,
          |  CASE WHEN t > 0 THEN CAST(tp * 1000000 // t AS BIGINT)
          |  END AS topk_share_ppm
          |FROM p""".stripMargin,
      // skyline replay: (group, x) level maxima, the strictly-greater-x
      // running max (1 PRECEDING frame), survivors where y equals the
      // level max and strictly beats the running max
      "pareto_front" ->
        """WITH peru AS (
          |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS value_micro
          |  FROM events
          |  WHERE user_id IS NOT NULL AND value IS NOT NULL
          |    AND event_type IS NOT NULL
          |  GROUP BY 1, 2),
          |lvl AS (SELECT event_type, n_events,
          |    max(value_micro) AS ymax,
          |    max(max(value_micro)) OVER (PARTITION BY event_type
          |      ORDER BY n_events DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          |  FROM peru GROUP BY 1, 2)
          |SELECT p.event_type, p.user_id, p.n_events, p.value_micro
          |FROM peru p JOIN lvl l
          |  ON l.event_type = p.event_type AND l.n_events = p.n_events
          |WHERE p.value_micro = l.ymax
          |  AND (l.pm IS NULL OR p.value_micro > l.pm)""".stripMargin,
      // assortativity replay: the triangle_count co-supplier graph, degree
      // table, directed stubs, HUGEINT moments, ONE IEEE division in the
      // engine's operand order
      "graph_assortativity" ->
        """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
          |    FROM lineitem),
          |co AS (SELECT a.s AS s1, b.s AS s2 FROM li a
          |  JOIN li b ON a.ok = b.ok AND a.s < b.s
          |  GROUP BY 1, 2 HAVING count(*) >= 8),
          |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          |  SELECT s1 AS id FROM co UNION ALL SELECT s2 FROM co) GROUP BY 1),
          |stubs AS (SELECT s1 AS u, s2 AS v FROM co
          |  UNION ALL SELECT s2, s1 FROM co),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS m,
          |    sum(CAST(du.deg AS HUGEINT)) AS sx,
          |    sum(CAST(du.deg AS HUGEINT) * du.deg) AS sxx,
          |    sum(CAST(du.deg AS HUGEINT) * dv.deg) AS sxy
          |  FROM stubs JOIN deg du ON du.id = stubs.u
          |  JOIN deg dv ON dv.id = stubs.v),
          |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
          |    max(deg) AS max_degree FROM deg)
          |SELECT nd.n_nodes, CAST(m.m // 2 AS BIGINT) AS n_edges,
          |  nd.max_degree,
          |  CASE WHEN nd.n_nodes > 0 THEN
          |    CAST(CAST(m.m AS HUGEINT) * 1000000 // nd.n_nodes AS BIGINT)
          |  END AS mean_degree_ppm,
          |  CASE WHEN (CAST(m.m AS HUGEINT) * m.sxx - m.sx * m.sx) <> 0 THEN
          |    round(CAST(CAST(m.m AS HUGEINT) * m.sxy - m.sx * m.sx AS DOUBLE)
          |      / CAST(CAST(m.m AS HUGEINT) * m.sxx - m.sx * m.sx AS DOUBLE),
          |      6)
          |  END AS assortativity
          |FROM nd, m""".stripMargin,
      // KM replay: cohort/duration subjects, (g,t) event/censor counts,
      // the at-risk exclusive prefix, then the survival recurrence as a
      // RECURSIVE CTE — base row = first factor, step = s·next, the
      // IDENTICAL left-fold operand order as the engine's in-row
      // aggregate (1.0·x = x exactly, so the engine's seed adds nothing)
      "kaplan_meier" ->
        """WITH RECURSIVE ev AS (
          |  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |mx AS (SELECT max(day) AS maxday FROM ev),
          |fe AS (SELECT user_id, day, event_type, row_number() OVER (
          |    PARTITION BY user_id ORDER BY day, event_type) AS rn FROM ev),
          |subj AS (SELECT c.event_type AS g,
          |    coalesce(p.pday, mx.maxday) - c.day AS t,
          |    p.pday IS NOT NULL AS conv
          |  FROM fe c
          |  LEFT JOIN (SELECT user_id, min(day) AS pday FROM ev
          |    WHERE event_type = 'purchase' GROUP BY 1) p
          |    ON p.user_id = c.user_id
          |  CROSS JOIN mx WHERE c.rn = 1),
          |cnt AS (SELECT g, t,
          |    CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS d,
          |    CAST(sum(CASE WHEN conv THEN 0 ELSE 1 END) AS BIGINT) AS c
          |  FROM subj GROUP BY 1, 2),
          |ar AS (SELECT g, t, d, c,
          |    CAST(sum(d + c) OVER (PARTITION BY g) -
          |      coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS n
          |  FROM cnt),
          |st AS (SELECT g, t, d, c, n, row_number() OVER (
          |    PARTITION BY g ORDER BY t) AS rn FROM ar WHERE d > 0),
          |km AS (
          |  SELECT g, t, d, c, n, rn,
          |    1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS s
          |  FROM st WHERE rn = 1
          |  UNION ALL
          |  SELECT o.g, o.t, o.d, o.c, o.n, o.rn,
          |    km.s * (1.0 - CAST(o.d AS DOUBLE) / CAST(o.n AS DOUBLE))
          |  FROM km JOIN st o ON o.g = km.g AND o.rn = km.rn + 1)
          |SELECT g AS cohort, t, n AS n_risk, d, c,
          |  round(s, 6) AS survival FROM km""".stripMargin,
      // EWMA replay: (group, day-bucket) micro sums, then the recurrence
      // s1 = x1, st = s + alpha*(x - s) as a RECURSIVE CTE in the
      // IDENTICAL operand order, alpha divided from its ppm integer
      // in-engine on both sides
      "ewma_chart" ->
        """WITH RECURSIVE b AS (
          |  SELECT CAST(event_type AS VARCHAR) AS g,
          |    epoch_us(ts) // 86400000000 AS bkt,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS x
          |  FROM events
          |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |st AS (SELECT g, bkt, x, row_number() OVER (
          |    PARTITION BY g ORDER BY bkt) AS rn FROM b),
          |ew AS (
          |  SELECT g, bkt, x, rn, CAST(x AS DOUBLE) AS s,
          |    CAST(NULL AS DOUBLE) AS r
          |  FROM st WHERE rn = 1
          |  UNION ALL
          |  SELECT o.g, o.bkt, o.x, o.rn,
          |    ew.s + (CAST(300000 AS DOUBLE) / 1000000.0) *
          |      (CAST(o.x AS DOUBLE) - ew.s),
          |    CAST(o.x AS DOUBLE) - ew.s
          |  FROM ew JOIN st o ON o.g = ew.g AND o.rn = ew.rn + 1)
          |SELECT g AS event_type, x AS value_micro,
          |  CAST(floor(s) AS BIGINT) AS ewma_micro,
          |  CAST(floor(r) AS BIGINT) AS resid_micro,
          |  bkt * 86400000000 AS bucket_us
          |FROM ew""".stripMargin,
      // Theil-Sen replay: the same daily micro buckets, every (i < j)
      // bucket pair's SIGN-SPLIT truncating ppm slope via self-join, the
      // lower median by row_number, intercepts from the picked slope in
      // the identical sign-split lane
      "theil_sen" ->
        """WITH b AS (SELECT CAST(event_type AS VARCHAR) AS g,
          |    epoch_us(ts) // 86400000000 AS bkt,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS x
          |  FROM events
          |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |p AS (SELECT b1.g,
          |    CASE WHEN b2.x - b1.x >= 0
          |      THEN CAST((CAST(b2.x - b1.x AS HUGEINT) * 1000000)
          |        // (b2.bkt - b1.bkt) AS BIGINT)
          |      ELSE -CAST((CAST(-(b2.x - b1.x) AS HUGEINT) * 1000000)
          |        // (b2.bkt - b1.bkt) AS BIGINT)
          |    END AS s
          |  FROM b b1 JOIN b b2 ON b1.g = b2.g AND b2.bkt > b1.bkt),
          |ms AS (SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
          |    count(*) OVER (PARTITION BY g) AS m FROM p),
          |sl AS (SELECT g, s AS slope_ppm, m AS n_pairs FROM ms
          |  WHERE rn = (m + 1) // 2),
          |nb AS (SELECT g, CAST(count(*) AS BIGINT) AS n_buckets FROM b GROUP BY 1),
          |ic0 AS (SELECT b.g, b.x - (CASE WHEN sl.slope_ppm >= 0
          |      THEN CAST((CAST(sl.slope_ppm AS HUGEINT) * b.bkt) // 1000000 AS BIGINT)
          |      ELSE -CAST((CAST(-sl.slope_ppm AS HUGEINT) * b.bkt) // 1000000 AS BIGINT)
          |    END) AS i0
          |  FROM b JOIN sl ON sl.g = b.g),
          |mi AS (SELECT g, i0, row_number() OVER (PARTITION BY g ORDER BY i0) AS rn,
          |    count(*) OVER (PARTITION BY g) AS m FROM ic0),
          |ic AS (SELECT g, i0 AS intercept_micro FROM mi WHERE rn = (m + 1) // 2)
          |SELECT nb.g AS event_type, nb.n_buckets,
          |  coalesce(sl.n_pairs, 0) AS n_pairs, sl.slope_ppm, ic.intercept_micro
          |FROM nb LEFT JOIN sl ON sl.g = nb.g LEFT JOIN ic ON ic.g = nb.g""".stripMargin,
      // Holt replay: the ewma_chart recursive CTE with the second
      // recurrence — the level update repeats textually inside the trend
      // update exactly as the engine's fold does, so the IEEE op tree is
      // identical step for step
      "holt_chart" -> {
        val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
        val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
        val lNext = s"($a * CAST(o.x AS DOUBLE) + (1.0 - $a) * (h.l + h.t))"
        s"""WITH RECURSIVE b AS (
           |  SELECT CAST(event_type AS VARCHAR) AS g,
           |    epoch_us(ts) // 86400000000 AS bkt,
           |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
           |      AS BIGINT)) AS BIGINT) AS x
           |  FROM events
           |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
           |    AND value IS NOT NULL
           |  GROUP BY 1, 2),
           |st AS (SELECT g, bkt, x, row_number() OVER (
           |    PARTITION BY g ORDER BY bkt) AS rn FROM b),
           |h AS (
           |  SELECT g, bkt, x, rn, CAST(x AS DOUBLE) AS l,
           |    CAST(0.0 AS DOUBLE) AS t, CAST(NULL AS DOUBLE) AS r
           |  FROM st WHERE rn = 1
           |  UNION ALL
           |  SELECT o.g, o.bkt, o.x, o.rn,
           |    $lNext,
           |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
           |    CAST(o.x AS DOUBLE) - (h.l + h.t)
           |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
           |SELECT g AS event_type, x AS value_micro,
           |  CAST(floor(l) AS BIGINT) AS level_micro,
           |  CAST(floor(t) AS BIGINT) AS trend_micro,
           |  CAST(floor(r) AS BIGINT) AS resid_micro,
           |  bkt * 86400000000 AS bucket_us
           |FROM h""".stripMargin
      },
      // sessionization replay: the same lag > gap flag over sorted
      // timestamps, running flag sum as the session id, per-session agg
      "sessionize" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |f AS (SELECT user_id, t,
          |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
          |      > 1800000000 THEN 1 ELSE 0 END AS nw
          |  FROM e),
          |s AS (SELECT user_id, t, 1 + sum(nw) OVER (
          |    PARTITION BY user_id ORDER BY t
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM f)
          |SELECT user_id, CAST(sid AS BIGINT) AS session_index,
          |  min(t) AS session_start_us, max(t) AS session_end_us,
          |  max(t) - min(t) AS duration_us,
          |  CAST(count(*) AS BIGINT) AS n_events
          |FROM s GROUP BY 1, 2""".stripMargin,
      // state-path EWMA replay: per-(type, day) partial sums (the
      // incremental-store shape), then the IDENTICAL recurrence as
      // ewma_chart keyed on the ISO day string
      "ewma_from_state" ->
        """WITH RECURSIVE b AS (
          |  SELECT CAST(event_type AS VARCHAR) AS g,
          |    CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS x
          |  FROM events
          |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |st AS (SELECT g, dt, x, row_number() OVER (
          |    PARTITION BY g ORDER BY dt) AS rn FROM b),
          |ew AS (
          |  SELECT g, dt, x, rn, CAST(x AS DOUBLE) AS s,
          |    CAST(NULL AS DOUBLE) AS r
          |  FROM st WHERE rn = 1
          |  UNION ALL
          |  SELECT o.g, o.dt, o.x, o.rn,
          |    ew.s + (CAST(300000 AS DOUBLE) / 1000000.0) *
          |      (CAST(o.x AS DOUBLE) - ew.s),
          |    CAST(o.x AS DOUBLE) - ew.s
          |  FROM ew JOIN st o ON o.g = ew.g AND o.rn = ew.rn + 1)
          |SELECT g AS event_type, dt, x AS value_micro,
          |  CAST(floor(s) AS BIGINT) AS ewma_micro,
          |  CAST(floor(r) AS BIGINT) AS resid_micro
          |FROM ew""".stripMargin,
      // state-path Holt replay: the ewma_from_state day-keyed chain with
      // the holt_chart recurrences — level repeated textually inside the
      // trend update, identical op tree
      "holt_from_state" -> {
        val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
        val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
        val lNext = s"($a * CAST(o.x AS DOUBLE) + (1.0 - $a) * (h.l + h.t))"
        s"""WITH RECURSIVE b AS (
           |  SELECT CAST(event_type AS VARCHAR) AS g,
           |    CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
           |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
           |      AS BIGINT)) AS BIGINT) AS x
           |  FROM events
           |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
           |    AND value IS NOT NULL
           |  GROUP BY 1, 2),
           |st AS (SELECT g, dt, x, row_number() OVER (
           |    PARTITION BY g ORDER BY dt) AS rn FROM b),
           |h AS (
           |  SELECT g, dt, x, rn, CAST(x AS DOUBLE) AS l,
           |    CAST(0.0 AS DOUBLE) AS t, CAST(NULL AS DOUBLE) AS r
           |  FROM st WHERE rn = 1
           |  UNION ALL
           |  SELECT o.g, o.dt, o.x, o.rn,
           |    $lNext,
           |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
           |    CAST(o.x AS DOUBLE) - (h.l + h.t)
           |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
           |SELECT g AS event_type, dt, x AS value_micro,
           |  CAST(floor(l) AS BIGINT) AS level_micro,
           |  CAST(floor(t) AS BIGINT) AS trend_micro,
           |  CAST(floor(r) AS BIGINT) AS resid_micro
           |FROM h""".stripMargin
      },
      // Holt–Winters replay: the holt_chart recursive chain with the
      // seasonal state carried as SEVEN explicit double columns (the
      // Spark fold carries an array; same IEEE op tree, different
      // layout) — level repeated textually inside the trend AND seasonal
      // updates, phase selected by bkt % 7 in both engines
      "holt_winters" -> {
        val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
        val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
        val g = "(CAST(300000 AS DOUBLE) / 1000000.0)"
        val sPrev = "(CASE o.bkt % 7 " +
          (0 until 7).map(i => s"WHEN $i THEN h.s$i").mkString(" ") + " END)"
        val lNext =
          s"($a * (CAST(o.x AS DOUBLE) - $sPrev) + (1.0 - $a) * (h.l + h.t))"
        val sNext =
          s"($g * (CAST(o.x AS DOUBLE) - $lNext) + (1.0 - $g) * $sPrev)"
        val sCols = (0 until 7).map(i =>
          s"CASE WHEN o.bkt % 7 = $i THEN $sNext ELSE h.s$i END")
          .mkString(",\n           |    ").stripMargin
        val zeroCols = (0 until 7).map(i => s"CAST(0.0 AS DOUBLE) AS s$i")
          .mkString(", ")
        s"""WITH RECURSIVE b AS (
           |  SELECT CAST(event_type AS VARCHAR) AS g,
           |    epoch_us(ts) // 86400000000 AS bkt,
           |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
           |      AS BIGINT)) AS BIGINT) AS x
           |  FROM events
           |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
           |    AND value IS NOT NULL
           |  GROUP BY 1, 2),
           |st AS (SELECT g, bkt, x, row_number() OVER (
           |    PARTITION BY g ORDER BY bkt) AS rn FROM b),
           |h AS (
           |  SELECT g, bkt, x, rn, CAST(x AS DOUBLE) AS l,
           |    CAST(0.0 AS DOUBLE) AS t, $zeroCols,
           |    CAST(0.0 AS DOUBLE) AS si, CAST(NULL AS DOUBLE) AS r
           |  FROM st WHERE rn = 1
           |  UNION ALL
           |  SELECT o.g, o.bkt, o.x, o.rn,
           |    $lNext,
           |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
           |    $sCols,
           |    $sNext,
           |    CAST(o.x AS DOUBLE) - (h.l + h.t + $sPrev)
           |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
           |SELECT g AS event_type, x AS value_micro,
           |  CAST(floor(l) AS BIGINT) AS level_micro,
           |  CAST(floor(t) AS BIGINT) AS trend_micro,
           |  CAST(floor(si) AS BIGINT) AS season_micro,
           |  CAST(floor(r) AS BIGINT) AS resid_micro,
           |  bkt * 86400000000 AS bucket_us
           |FROM h""".stripMargin
      },
      // state-path Holt–Winters replay: the holt_from_state day-keyed
      // chain with the seasonal columns; phase = epoch-day mod 7
      "holt_winters_from_state" -> {
        val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
        val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
        val g = "(CAST(300000 AS DOUBLE) / 1000000.0)"
        val sPrev = "(CASE o.dnum % 7 " +
          (0 until 7).map(i => s"WHEN $i THEN h.s$i").mkString(" ") + " END)"
        val lNext =
          s"($a * (CAST(o.x AS DOUBLE) - $sPrev) + (1.0 - $a) * (h.l + h.t))"
        val sNext =
          s"($g * (CAST(o.x AS DOUBLE) - $lNext) + (1.0 - $g) * $sPrev)"
        val sCols = (0 until 7).map(i =>
          s"CASE WHEN o.dnum % 7 = $i THEN $sNext ELSE h.s$i END")
          .mkString(",\n           |    ").stripMargin
        val zeroCols = (0 until 7).map(i => s"CAST(0.0 AS DOUBLE) AS s$i")
          .mkString(", ")
        s"""WITH RECURSIVE b AS (
           |  SELECT CAST(event_type AS VARCHAR) AS g,
           |    CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
           |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dnum,
           |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
           |      AS BIGINT)) AS BIGINT) AS x
           |  FROM events
           |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
           |    AND value IS NOT NULL
           |  GROUP BY 1, 2, 3),
           |st AS (SELECT g, dt, dnum, x, row_number() OVER (
           |    PARTITION BY g ORDER BY dt) AS rn FROM b),
           |h AS (
           |  SELECT g, dt, dnum, x, rn, CAST(x AS DOUBLE) AS l,
           |    CAST(0.0 AS DOUBLE) AS t, $zeroCols,
           |    CAST(0.0 AS DOUBLE) AS si, CAST(NULL AS DOUBLE) AS r
           |  FROM st WHERE rn = 1
           |  UNION ALL
           |  SELECT o.g, o.dt, o.dnum, o.x, o.rn,
           |    $lNext,
           |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
           |    $sCols,
           |    $sNext,
           |    CAST(o.x AS DOUBLE) - (h.l + h.t + $sPrev)
           |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
           |SELECT g AS event_type, dt, x AS value_micro,
           |  CAST(floor(l) AS BIGINT) AS level_micro,
           |  CAST(floor(t) AS BIGINT) AS trend_micro,
           |  CAST(floor(si) AS BIGINT) AS season_micro,
           |  CAST(floor(r) AS BIGINT) AS resid_micro
           |FROM h""".stripMargin
      },
      // mobility replay: per-(week, user) micro totals, the identical
      // deterministic ntile under the (value, key-string) total order,
      // lead-paired consecutive weeks, left-joined transitions (NULL
      // bin_to = churned), integral row shares
      "rank_mobility" ->
        """WITH pk AS (
          |  SELECT epoch_us(ts) // 604800000000 AS p,
          |    CAST(user_id AS VARCHAR) AS k,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS s
          |  FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |bins AS (SELECT p, k,
          |    CAST(ntile(5) OVER (PARTITION BY p ORDER BY s ASC, k ASC)
          |      AS BIGINT) AS bin
          |  FROM pk),
          |pairs AS (SELECT p, lead(p) OVER (ORDER BY p) AS pn
          |  FROM (SELECT DISTINCT p FROM bins)),
          |tr AS (SELECT f.p AS period_from, pairs.pn AS period_to,
          |    f.bin AS bin_from, t.bin AS bin_to,
          |    CAST(count(*) AS BIGINT) AS n_keys
          |  FROM bins f JOIN pairs ON pairs.p = f.p AND pairs.pn IS NOT NULL
          |  LEFT JOIN bins t ON t.p = pairs.pn AND t.k = f.k
          |  GROUP BY 1, 2, 3, 4)
          |SELECT period_from, period_to, bin_from, bin_to, n_keys,
          |  CAST(n_keys * 1000000 // sum(n_keys) OVER (
          |    PARTITION BY period_from, period_to, bin_from) AS BIGINT)
          |    AS share_ppm
          |FROM tr""".stripMargin,
      // projection replay: the cap as a HAVING on left-membership counts
      // BEFORE the pair join — the drop-whole contract is replayed, not
      // approximated
      "bipartite_project" ->
        """WITH mem AS (SELECT DISTINCT l_orderkey AS l, l_suppkey AS r
          |    FROM lineitem
          |    WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
          |keep AS (SELECT l FROM mem GROUP BY l HAVING count(*) <= 6),
          |m2 AS (SELECT mem.l, mem.r FROM mem JOIN keep USING (l))
          |SELECT a.r AS a, b.r AS b, CAST(count(*) AS BIGINT) AS weight
          |FROM m2 a JOIN m2 b ON a.l = b.l AND a.r < b.r
          |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
      // PR-curve replay: distinct-score confusion matrices from the same
      // counts-below cumulative (predict positive ⇔ score ≥ t); integral
      // `//` matches the engine's DECIMAL(38,0) div on all-positive lanes
      "eval_pr" ->
        """WITH base AS MATERIALIZED (
          |  SELECT value AS s, count(*) AS cnt,
          |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
          |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
          |  CAST(sum(pos) AS BIGINT) AS p FROM base),
          |cum AS (SELECT s,
          |    coalesce(sum(cnt) OVER (ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cc,
          |    coalesce(sum(pos) OVER (ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
          |  FROM base)
          |SELECT s AS threshold,
          |  CAST(p - cp AS BIGINT) AS tp,
          |  CAST((n - cc) - (p - cp) AS BIGINT) AS fp,
          |  CAST(cp AS BIGINT) AS fn,
          |  CAST((p - cp) * 1000000 // (n - cc) AS BIGINT) AS precision_ppm,
          |  CASE WHEN p > 0
          |    THEN CAST((p - cp) * 1000000 // p AS BIGINT) END AS recall_ppm,
          |  CASE WHEN p > 0
          |    THEN CAST(2 * (p - cp) * 1000000 // ((n - cc) + p) AS BIGINT)
          |  END AS f1_ppm
          |FROM cum CROSS JOIN tot""".stripMargin,
      // CUSUM replay: the identical micro-unit daily bucket sums → per-group
      // running-sum deviation |n·S_i − i·S_n| → max → earliest attaining
      // bucket; HUGEINT carries the cross-scaled products exactly
      "cusum_change" ->
        """WITH base AS MATERIALIZED (
          |  SELECT CAST(event_type AS VARCHAR) AS g,
          |    epoch_us(ts) // 86400000000 AS b,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS x
          |  FROM events
          |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(x) AS BIGINT) AS st FROM base GROUP BY 1),
          |dd AS MATERIALIZED (SELECT base.g, b, n, st,
          |    abs(CAST(n AS HUGEINT) *
          |        (sum(x) OVER (PARTITION BY base.g ORDER BY b)) -
          |      CAST(row_number() OVER (PARTITION BY base.g ORDER BY b)
          |        AS HUGEINT) * st) AS d
          |  FROM base JOIN tot ON tot.g = base.g),
          |m AS (SELECT g, n, st, max(d) AS dmax FROM dd GROUP BY 1, 2, 3)
          |SELECT m.g AS event_type, m.n AS n_buckets, m.st AS s_total,
          |  CAST(m.dmax AS BIGINT) AS d_num,
          |  CASE WHEN m.st != 0 THEN CAST(m.dmax * 1000000 //
          |    (CAST(m.n AS HUGEINT) * abs(m.st)) AS BIGINT) END AS cusum_ppm,
          |  min(dd.b) * 86400000000 AS change_at_us
          |FROM m JOIN dd ON dd.g = m.g AND dd.d = m.dmax
          |GROUP BY 1, 2, 3, 4, 5""".stripMargin,
      // DAU/WAU/MAU replay: distinct (user, day) pairs fan out to their 30
      // cover days (generate_series is inclusive, matching sequence), min
      // offset per (day, user), then the conditional counts
      "active_users" ->
        """WITH pairs AS MATERIALIZED (
          |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |mx AS (SELECT max(d) AS maxd FROM pairs),
          |fil AS (SELECT u, d + gs.j AS cover, min(gs.j) AS off
          |  FROM pairs CROSS JOIN generate_series(0, 29) gs(j) CROSS JOIN mx
          |  WHERE d + gs.j <= mx.maxd
          |  GROUP BY 1, 2)
          |SELECT cover * 86400000000 AS day_us,
          |  CAST(sum(CASE WHEN off = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
          |  CAST(sum(CASE WHEN off < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
          |  count(*) AS mau,
          |  CAST(sum(CASE WHEN off = 0 THEN 1 ELSE 0 END) * 1000000
          |    // count(*) AS BIGINT) AS stickiness_ppm
          |FROM fil GROUP BY 1""".stripMargin,
      // edit-distance join ground truth: ALL-PAIRS levenshtein over the
      // distinct-value table (the oracle is stronger than a replay — the
      // engine's prefix filter must lose zero recall against it)
      "edit_distance_join" ->
        """WITH v AS MATERIALIZED (
          |  SELECT c_name AS s, min(c_custkey) AS id FROM customer
          |  WHERE c_name IS NOT NULL GROUP BY 1)
          |SELECT least(a.id, b.id) AS a_id, greatest(a.id, b.id) AS b_id,
          |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
          |FROM v a JOIN v b
          |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 1
          |WHERE levenshtein(a.s, b.s) = 1""".stripMargin,
      // chi-square replay: the identical cell-count → dense marginal grid
      // → common-denominator (O·N − R·C)²·10^6 // (R·C·N) chain; per-cell
      // floors sum to the quantized table statistic in both engines
      "chi_square" ->
        """WITH base AS MATERIALIZED (
          |  SELECT event_type AS r,
          |    (epoch_us(ts) // 86400000000 + 4) % 7 AS c, count(*) AS o
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY 1, 2),
          |rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rr FROM base GROUP BY 1),
          |ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS cc FROM base GROUP BY 1),
          |n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM base),
          |cells AS MATERIALIZED (
          |  SELECT rt.r, ct.c, coalesce(base.o, 0) AS o, rr, cc, nn,
          |    CAST(rr AS HUGEINT) * cc * 1000000 // nn AS expected_ppm,
          |    ((CAST(coalesce(base.o, 0) AS HUGEINT) * nn
          |        - CAST(rr AS HUGEINT) * cc)
          |     * (CAST(coalesce(base.o, 0) AS HUGEINT) * nn
          |        - CAST(rr AS HUGEINT) * cc) * 1000000)
          |      // (CAST(rr AS HUGEINT) * cc * nn) AS cell_chi2_ppm
          |  FROM rt CROSS JOIN ct CROSS JOIN n
          |  LEFT JOIN base ON base.r = rt.r AND base.c = ct.c)
          |SELECT r AS row_val, c AS col_val, o AS observed,
          |  CAST(expected_ppm AS BIGINT) AS expected_ppm,
          |  CAST(cell_chi2_ppm AS BIGINT) AS cell_chi2_ppm,
          |  CAST(sum(cell_chi2_ppm) OVER () AS BIGINT) AS chi2_ppm,
          |  CAST(((SELECT count(*) FROM rt) - 1)
          |    * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
          |  nn AS n
          |FROM cells""".stripMargin,
      // Gini feature-screen replay: the identical per-feature melt →
      // (feature, value, class) cell counts → purity-mass floors
      // a_v = (Σ n_vc²·10⁶)//n_v → panel chain in HUGEINT — every floor
      // identical, so the quantized gains match bit-for-bit
      "gini_gain" ->
        """WITH ev AS (SELECT event_type AS t,
          |    CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS VARCHAR) AS dow,
          |    CAST(CAST(floor(value) AS BIGINT) // 20 AS VARCHAR) AS vbucket,
          |    CAST(length(event_type) AS VARCHAR) AS leak
          |  FROM events WHERE event_type IS NOT NULL),
          |m AS (
          |  SELECT t, 'dow' AS f, dow AS v FROM ev WHERE dow IS NOT NULL
          |  UNION ALL
          |  SELECT t, 'vbucket', vbucket FROM ev WHERE vbucket IS NOT NULL
          |  UNION ALL
          |  SELECT t, 'leak', leak FROM ev WHERE leak IS NOT NULL),
          |cells AS MATERIALIZED (
          |  SELECT f, v, t, CAST(count(*) AS HUGEINT) AS o
          |  FROM m GROUP BY 1, 2, 3),
          |byv AS MATERIALIZED (
          |  SELECT f, v, CAST(sum(o) AS HUGEINT) AS nv, sum(o * o) AS ssq
          |  FROM cells GROUP BY 1, 2),
          |byc AS (SELECT f, t, CAST(sum(o) AS HUGEINT) AS nc
          |  FROM cells GROUP BY 1, 2),
          |par AS (SELECT f, CAST(sum(nc) AS HUGEINT) AS n,
          |    sum(nc * nc) AS csq
          |  FROM byc GROUP BY 1),
          |spl AS (SELECT f, sum((ssq * 1000000) // nv) AS s,
          |    count(*) AS n_values
          |  FROM byv GROUP BY 1),
          |pan AS (SELECT par.f, n, n_values,
          |    CAST(1000000 - (csq * 1000000) // (n * n) AS BIGINT)
          |      AS parent_gini_ppm,
          |    CAST(1000000 - s // n AS BIGINT) AS split_gini_ppm
          |  FROM par JOIN spl ON spl.f = par.f)
          |SELECT byv.f AS feature, v AS feature_value,
          |  CAST(nv AS BIGINT) AS n_v,
          |  CAST(1000000 - (ssq * 1000000) // (nv * nv) AS BIGINT)
          |    AS child_gini_ppm,
          |  CAST(n AS BIGINT) AS n, CAST(n_values AS BIGINT) AS n_values,
          |  parent_gini_ppm, split_gini_ppm,
          |  parent_gini_ppm - split_gini_ppm AS gain_ppm
          |FROM byv JOIN pan ON pan.f = byv.f""".stripMargin,
      // link-prediction replay: the identical co-supply graph → adjacency
      // → capped wedge expansion → non-edge filter → degree attach chain
      // with integral `//` for the neighborhood Jaccard
      "link_predict" ->
        """WITH li AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
          |und AS MATERIALIZED (
          |  SELECT x.sk AS a, y.sk AS b FROM li x JOIN li y
          |  ON x.ok = y.ok AND x.sk < y.sk
          |  GROUP BY 1, 2 HAVING count(*) >= 28),
          |adj AS (SELECT a AS c, b AS n FROM und
          |  UNION ALL SELECT b, a FROM und),
          |deg AS MATERIALIZED (
          |  SELECT c AS id, count(*) AS deg FROM adj GROUP BY 1),
          |ok_c AS (SELECT id FROM deg WHERE deg <= 256),
          |cand AS MATERIALIZED (
          |  SELECT x.n AS a, y.n AS b, count(*) AS cn
          |  FROM adj x JOIN adj y ON x.c = y.c AND x.n < y.n
          |  JOIN ok_c ON ok_c.id = x.c
          |  GROUP BY 1, 2),
          |ne AS (SELECT cand.* FROM cand LEFT JOIN und
          |  ON und.a = cand.a AND und.b = cand.b WHERE und.a IS NULL)
          |SELECT ne.a, ne.b, ne.cn AS common_neighbors,
          |  da.deg AS deg_a, db.deg AS deg_b,
          |  ne.cn * 1000000 // (da.deg + db.deg - ne.cn) AS jaccard_ppm,
          |  da.deg * db.deg AS pa_score
          |FROM ne JOIN deg da ON da.id = ne.a JOIN deg db ON db.id = ne.b
          |WHERE ne.cn >= 1""".stripMargin,
      // calibration replay: the identical IEEE width-binning (subtract,
      // divide, floor — exactly rounded in both engines) → micro-unit
      // panel → n-weighted ECE chain with integral `//`
      "eval_calibration" ->
        """WITH base AS MATERIALIZED (
          |  SELECT CAST(value AS DOUBLE) AS s,
          |    event_type = 'purchase' AS y
          |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
          |rng AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
          |b AS MATERIALIZED (
          |  SELECT CASE WHEN hi = lo THEN 0 ELSE
          |      least(greatest(CAST(floor((s - lo) / ((hi - lo) / 10))
          |        AS BIGINT), 0), 9) END AS bin,
          |    s, y
          |  FROM base CROSS JOIN rng),
          |p AS MATERIALIZED (
          |  SELECT bin, count(*) AS n,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          |    CAST(sum(CAST(floor(s * 1000000) AS BIGINT)) AS BIGINT) AS sm
          |  FROM b GROUP BY 1),
          |g AS (SELECT bin, n, n_pos,
          |    sm // n AS conf_ppm, n_pos * 1000000 // n AS acc_ppm,
          |    abs(sm // n - n_pos * 1000000 // n) AS gap_ppm
          |  FROM p)
          |SELECT bin, n, n_pos, conf_ppm, acc_ppm, gap_ppm,
          |  CAST(sum(gap_ppm * n) OVER () // sum(n) OVER () AS BIGINT)
          |    AS ece_ppm
          |FROM g""".stripMargin,
      // seasonal-anomaly replay: the identical micro-unit bucket sums →
      // (group, phase) integral means → ratio/band chain; `%` on
      // non-negative epoch buckets matches Spark's pmod
      "seasonal_anomaly" ->
        """WITH base AS MATERIALIZED (
          |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS b,
          |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
          |      AS BIGINT)) AS BIGINT) AS x
          |  FROM events
          |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
          |    AND value IS NOT NULL
          |  GROUP BY 1, 2),
          |ph AS (SELECT g, b, b % 7 AS p, x FROM base),
          |pm AS (SELECT g, p, CAST(sum(x) // count(*) AS BIGINT) AS m
          |  FROM ph GROUP BY 1, 2),
          |r AS (SELECT ph.g, ph.b, ph.p, ph.x, pm.m,
          |    CASE WHEN pm.m > 0 THEN ph.x * 1000000 // pm.m END AS ratio
          |  FROM ph JOIN pm ON pm.g = ph.g AND pm.p = ph.p)
          |SELECT g AS event_type, p AS phase, x AS value_micro,
          |  m AS phase_mean_micro, CAST(ratio AS BIGINT) AS ratio_ppm,
          |  (ratio IS NOT NULL AND (ratio < 500000 OR ratio > 1500000))
          |    AS anomalous,
          |  b * 86400000000 AS bucket_us
          |FROM r""".stripMargin,
      // nearest-join replay: candidates within tolerance either side, then
      // the engine's exact pick order — min |Δt|, earlier right ts, then
      // greatest event_id — as a row_number argmin
      "nearest_join" ->
        s"""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
           |  FROM events WHERE event_type = 'view'),
           |r AS (SELECT user_id, epoch_us(ts) AS rts, event_id AS rid,
           |    CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT l.event_id, r.rts, r.rid, r.cents,
           |    row_number() OVER (PARTITION BY l.event_id
           |      ORDER BY abs(r.rts - l.ts_us), r.rts, r.rid DESC) AS rn
           |  FROM l JOIN r ON l.user_id = r.user_id
           |    AND abs(r.rts - l.ts_us) <= ${12L * 3600000000L})
           |SELECT l.event_id, l.user_id, l.ts_us,
           |  coalesce(c.rts, -1) AS near_ts_us,
           |  coalesce(c.rid, -1) AS near_event_id,
           |  coalesce(c.cents, -1) AS near_value_cents
           |FROM l LEFT JOIN c ON c.event_id = l.event_id AND c.rn = 1""".stripMargin,
      // basket-rule replay: the same distinct-presence → cap → pair-count
      // → both-directions → integral-ppm chain; `//` is DuckDB's floor
      // division, matching the engine's DECIMAL(38,0) `div` on these
      // all-positive lanes
      "basket_rules" ->
        """WITH d AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
          |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
          |ok AS MATERIALIZED (
          |  SELECT basket FROM d GROUP BY basket HAVING count(*) <= 10),
          |dd AS MATERIALIZED (SELECT d.* FROM d JOIN ok USING (basket)),
          |n AS (SELECT count(DISTINCT basket) AS nb FROM dd),
          |ic AS MATERIALIZED (
          |  SELECT item, count(*) AS ci FROM dd GROUP BY item),
          |pc AS MATERIALIZED (
          |  SELECT a.item AS ia, b.item AS ib, count(*) AS cab
          |  FROM dd a JOIN dd b ON a.basket = b.basket AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |r AS (SELECT ia AS antecedent, ib AS consequent, cab FROM pc
          |  UNION ALL SELECT ib, ia, cab FROM pc)
          |SELECT r.antecedent, r.consequent, r.cab AS n_pair_baskets,
          |  r.cab * 1000000 // n.nb AS support_ppm,
          |  r.cab * 1000000 // ca.ci AS confidence_ppm,
          |  r.cab * n.nb * 1000000 // (ca.ci * cb.ci) AS lift_ppm
          |FROM r
          |JOIN ic ca ON r.antecedent = ca.item
          |JOIN ic cb ON r.consequent = cb.item
          |CROSS JOIN n""".stripMargin,
      "table_profile" -> {
        val profiled = Seq("event_id", "user_id", "event_type", "value_e4", "ts_us")
        profiled.map(c =>
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  count(*) FILTER (WHERE $c IS NULL) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
             |FROM (SELECT event_id, user_id, event_type,
             |  CAST(round(value * 10000) AS BIGINT) AS value_e4,
             |  epoch_us(ts) AS ts_us FROM events)""".stripMargin)
          .mkString("\nUNION ALL\n")
      },
    )
  }
}
