package graftbench

import scala.collection.mutable

import graft.{CacheScope, CurationPipeline, NlpPipeline, SparkEntry, Tables}
import graft.ml.TopicPipeline
import graft.ops.{DedupOps, HashOps, MetricOps, SummarizeOps, TextOps}
import graft.queries.SessionMemos
import graft.sources.DocumentSources
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One workload: an operation the closed loop repeats, the checks of its
  * output, and (for the traced run) the per-stage breakdown.
  *
  * `key(k)` names operation k; operations with equal keys are repeats of
  * one another (the session's repeated queries; every pass of a batch
  * workload).
  */
abstract class Workload(val spark: SparkSession, val data: String,
                        val scratch: String, val tr: Tracer) {
  val nDocs: Long = spark.read.parquet(s"$data/documents.parquet").count()

  def key(k: Int): String

  /** Build and run operation k; returns a description of what failed. */
  protected def request(k: Int): Option[String]

  /** Row counts of the traced run's breakdown. */
  val extraLayers = mutable.LinkedHashMap.empty[String, Double]

  /** Operation k as the client sees it: the request and then its
    * release. Storage and the query-scoped persists awaiting release are
    * sampled between the two, outside the operation's time.
    */
  def run(k: Int): OpResult = {
    val t0 = System.nanoTime()
    val failure =
      try request(k)
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val requestNs = System.nanoTime() - t0
    val storedMb = Workload.storageMb(spark)
    val pending = CacheScope.pendingCount
    val t1 = System.nanoTime()
    tr.span("cache.release") { release() }
    OpResult((requestNs + System.nanoTime() - t1) / 1e9, failure, storedMb, pending)
  }

  protected def release(): Unit = CacheScope.releaseAll()

  /** Return to a cold session: no query-scoped persists, no memos, and no
    * persisted blocks left behind by an operation.
    */
  def reset(): Unit = {
    CacheScope.releaseAll()
    SessionMemos.evictAll()
    spark.catalog.clearCache()
  }

  /** For a workload whose operations differ in cost: the fixed number of
    * operations a run of `seconds` makes, so that every run does the same
    * work. None: operations repeat until `seconds` have elapsed, and at
    * least twice.
    */
  def plannedOps(seconds: Double): Option[Int] = None

  /** The operation index the set-up's warm-up runs. */
  def warmupKey: Int = 0

  /** Fields the workload adds to the run report. */
  def reportFields: Map[String, Any] = Map.empty

  /** Checks made once per run, after the timed loop. */
  def finalChecks(): Seq[String] = Nil

  /** Traced run only: the public stages of the reference pipeline
    * (NlpPipeline.run) and of the curation composite
    * (CurationPipeline.curate) over this workload's documents, each
    * stage's output materialized from a persisted parent, one span per
    * stage. Every workload runs both, so every workload reports every
    * stage metric.
    */
  def breakdown(): Unit = {
    nlpStages()
    curationStages()
  }

  // Mirrors NlpPipeline.run stage by stage. The ml stages fit the topic
  // model the way the registry's q40/q41 do, with the default config.
  private def nlpStages(): Unit = {
    val cfg = Workload.TaggingConfig
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(df: => DataFrame): DataFrame = tr.span(name) {
      val p = persisted(df)
      held += p
      noop(p)
      p
    }
    val docs = stage("sources.scan") { Tables.documents(spark, data) }
    val cleaned = stage("ops.clean_tokenize") {
      docs.withColumn("cleaned_text", TextOps.preprocess(col("text")))
        .withColumn("processed_text", TextOps.cleanTokensText(col("cleaned_text")))
    }
    val summarized = stage("ops.summarize") {
      val sents = SummarizeOps.sentences(cleaned)
      SummarizeOps.extractiveSummary(cleaned, sents,
        SummarizeOps.targetSentences(cfg.summaryMaxLength), ". ", ".")
        .withColumn("summary",
          TextOps.truncateAtWordBoundary(col("summary"), cfg.summaryMaxLength))
    }
    stage("ml.featurize") { TopicPipeline.featurize(docs) }
    val fitted = tr.span("ml.fit") { TopicPipeline.fit(docs, cfg.topics) }
    val tags = stage("ml.tags") { TopicPipeline.tags(fitted) }
    val result = stage("ops.metrics") {
      val joined = cleaned.join(summarized.select("doc_id", "summary"), Seq("doc_id"))
        .join(tags, Seq("doc_id"), "left")
      MetricOps.summaryMetrics(joined, "text", "summary")
        .join(joined.select(col("doc_id"), col("cleaned_text"),
          col("processed_text"), col("summary"), col("tags")), Seq("doc_id"))
    }
    tr.span("sources.sink") {
      DocumentSources.writeCsv(Workload.exported(result), s"$scratch/stages_csv")
    }
    fitted.tokenized.unpersist(blocking = true)
    held.foreach(_.unpersist(blocking = true))
  }

  // Mirrors CurationPipeline.curate stage by stage.
  private def curationStages(): Unit = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(df: => DataFrame): (DataFrame, Long) = tr.span(name) {
      val p = persisted(df)
      held += p
      (p, p.count())
    }
    val (docs, _) = stage("sources.scan") { Tables.documents(spark, data) }
    val (exact, _) = stage("ops.exact_stage") { CurationPipeline.exactStage(docs) }
    val (capped, shingleRows) = stage("ops.shingle") {
      DedupOps.capShingleDf(
        DedupOps.shingles(exact.select("doc_id", "toks"), CurationPipeline.ShingleN),
        CurationPipeline.MaxShingleDf)
    }
    val (pairs, pairRows) = stage("ops.pairs") {
      DedupOps.jaccardPairs(capped, CurationPipeline.NearDupMinMicro)
    }
    val (kept, keptRows) = stage("ops.retain") {
      CurationPipeline.curateFromPairs(exact, pairs)
    }
    tr.span("sources.sink") { kept.write.mode("overwrite").parquet(s"$scratch/stages_parquet") }
    extraLayers("ops.shingle_rows") = shingleRows.toDouble
    extraLayers("ops.pair_rows") = pairRows.toDouble
    extraLayers("ops.kept_frac") = keptRows.toDouble / nDocs
    held.foreach(_.unpersist(blocking = true))
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def persisted(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)
}

/** What one operation reports: its latency in seconds (request plus
  * release), what failed, the persisted storage and the pending
  * query-scoped persists before its release.
  */
final case class OpResult(latency: Double, failure: Option[String], storedMb: Double,
                          pending: Int)

object Workload {
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def apply(name: String, spark: SparkSession, data: String, scratch: String,
            tr: Tracer, seed: Long): Workload = name match {
    case "tagging" => new Tagging(spark, data, scratch, tr)
    case "curation" => new Curation(spark, data, scratch, tr)
    case "session" => new Session(spark, data, scratch, tr, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val TaggingConfig: NlpPipeline.Config = NlpPipeline.Config()

  /** The reference's export columns (nlp_data_tagging.py:514-526); tags
    * are joined into one string because CSV holds no arrays.
    */
  def exported(result: DataFrame): DataFrame =
    result.select(col("doc_id"), col("summary"),
      coalesce(array_join(col("tags"), ", "), lit("")).as("tags"),
      col("text_length").as("original_length"), col("summary_length"),
      col("compression_ratio"))

  /** The observed values of a completed action, by name. */
  def values(obs: Observation): Map[String, Any] = obs.get

  def long(v: Any): Long = v match {
    case null => 0L
    case n: java.lang.Number => n.longValue
    case other => other.toString.toLong
  }
}

/** One pass of the reference pipeline plus its CSV export. */
final class Tagging(spark: SparkSession, data: String, scratch: String, tr: Tracer)
    extends Workload(spark, data, scratch, tr) {
  private val cfg = Workload.TaggingConfig
  private val csvDir = s"$scratch/tagging_csv"
  private val Row(idSum: Long, idSq: Long) = spark.read.parquet(s"$data/documents.parquet")
    .agg(sum(col("doc_id")), sum(col("doc_id") * col("doc_id"))).head()

  def key(k: Int): String = "tagging"

  /** Output checks over the exported rows, collected during the write. */
  private def observed(result: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val df = result.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"),
      coalesce(sum(col("doc_id") * col("doc_id")), lit(0L)).as("id_sq"),
      max(length(col("summary"))).as("max_summary"),
      max(size(col("tags"))).as("max_tags"),
      min(col("compression_ratio")).as("min_cr"),
      max(col("compression_ratio")).as("max_cr"),
      count(when(col("summary").isNull, 1)).as("null_summaries"))
    (df, obs)
  }

  private def check(obs: Observation): Option[String] = {
    val v = Workload.values(obs)
    val bad = Seq(
      "one row per input document" ->
        (Workload.long(v("rows")) == nDocs && Workload.long(v("id_sum")) == idSum &&
          Workload.long(v("id_sq")) == idSq),
      // truncateAtWordBoundary cuts at summaryMaxLength and appends "..."
      s"summary length <= ${cfg.summaryMaxLength} + 3" ->
        (Workload.long(v("max_summary")) <= cfg.summaryMaxLength + 3 &&
          Workload.long(v("null_summaries")) == 0),
      s"at most ${cfg.nTags} tags" -> (Workload.long(v("max_tags")) <= cfg.nTags),
      "compression ratio in [0, 1]" ->
        (v("min_cr").asInstanceOf[Double] >= 0.0 && v("max_cr").asInstanceOf[Double] <= 1.0)
    ).collect { case (what, false) => what }
    if (bad.isEmpty) None else Some(s"tagging check failed: ${bad.mkString(", ")} ($v)")
  }

  protected def request(k: Int): Option[String] = {
    val result = tr.span("construct") {
      NlpPipeline.run(Tables.documents(spark, data), cfg)
    }
    val (df, obs) = observed(result)
    tr.span("action") { DocumentSources.writeCsv(Workload.exported(df), csvDir) }
    check(obs)
  }

  /** Tagging leaves the LDA's vectorized corpus persisted; drop it with
    * the query-scoped persists so every pass starts from the same storage.
    */
  override protected def release(): Unit = {
    super.release()
    spark.catalog.clearCache()
  }
}

/** One pass of the curation composite plus a parquet write of the corpus. */
final class Curation(spark: SparkSession, data: String, scratch: String, tr: Tracer)
    extends Workload(spark, data, scratch, tr) {
  private val outDir = s"$scratch/curated"
  private var firstDigest: Option[Seq[Long]] = None

  def key(k: Int): String = "curation"

  protected def request(k: Int): Option[String] = {
    val curated = tr.span("construct") {
      CurationPipeline.curate(Tables.documents(spark, data))
    }
    val obs = Observation()
    val df = curated.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"),
      coalesce(sum(pmod(xxhash64(col("doc_id"), col("text")), lit(2147483647L))), lit(0L)).as("h"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("tokens"))
    tr.span("action") { df.write.mode("overwrite").parquet(outDir) }
    val v = Workload.values(obs)
    val digest = Seq("rows", "id_sum", "h", "tokens").map(c => Workload.long(v(c)))
    firstDigest match {
      case None => firstDigest = Some(digest); None
      case Some(d) if d == digest => None
      case Some(d) => Some(s"curation output digest $digest differs from first pass $d")
    }
  }

  /** The oracle the curated corpus is compared with, outside the JVM. */
  override def reportFields: Map[String, Any] = Map(
    "curated_dir" -> outDir,
    "oracle_sql" -> SparkEntry.oracleSql("q50_curated_corpus"))

  /** The written corpus holds no two documents with one content key. */
  override def finalChecks(): Seq[String] = {
    val clashes = spark.read.parquet(outDir)
      .groupBy(HashOps.contentKey(col("text")).as("k")).count()
      .where(col("count") > 1).count()
    if (clashes == 0) Nil else Seq(s"$clashes content keys shared by several survivors")
  }
}

/** One analyst's closed loop of registry queries from a fixed subset, in
  * a Zipf-skewed mix. Memos persist across requests; query-scoped persists
  * are released after each.
  */
final class Session(spark: SparkSession, data: String, scratch: String, tr: Tracer,
                    seed: Long) extends Workload(spark, data, scratch, tr) {
  private val draws: IndexedSeq[String] = Session.draws(seed)
  private val firstDigest = mutable.HashMap.empty[String, (Long, Long, Long)]

  def key(k: Int): String = draws(k)

  /** Whole decks: one per full SecondsPerDeck of the run, at least one. */
  override def plannedOps(seconds: Double): Option[Int] =
    Some(Session.deck.size * math.max(1, (seconds / Session.SecondsPerDeck).toInt))

  /** The warm-up is always the most popular query, whatever the seed. */
  override def warmupKey: Int = -1

  private def query(k: Int): String = if (k < 0) Session.Subset.head else key(k)

  protected def request(k: Int): Option[String] = {
    val name = query(k)
    val df = tr.span("construct") { SparkEntry.queries(name)(spark, data) }
    val obs = Observation()
    val row = to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
    val observed = df.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(pmod(xxhash64(row), lit(2147483647L))), lit(0L)).as("h_sum"),
      coalesce(bit_xor(xxhash64(row)), lit(0L)).as("h_xor"))
    tr.span("action") { noop(observed) }
    val v = Workload.values(obs)
    val digest = (Workload.long(v("rows")), Workload.long(v("h_sum")), Workload.long(v("h_xor")))
    firstDigest.get(name) match {
      case None => firstDigest(name) = digest; None
      case Some(d) if d == digest => None
      case Some(d) => Some(s"$name: repeat digest $digest differs from first $d")
    }
  }

  /** A new session also forgets which answers it has seen. */
  override def reset(): Unit = {
    super.reset()
    firstDigest.clear()
  }
}

object Session {

  /** The registry subset the session draws from, most popular first. Every
    * query here reads only the generated `documents`, `embeddings` and
    * `events` tables and returns the same answer on every repeat. The
    * subset spans the tokenizer, similarity, dedup, analysis and streaming
    * families, includes the CSV sink query, and includes
    * q157_prune_candidates. The order is chosen: cheap memo hits first,
    * the sink and the stream, which repeat their jobs, last.
    */
  val Subset: IndexedSeq[String] = IndexedSeq(
    "q87_bpe_train", "q87c_trained_tokens", "q29f_filtered_knn",
    "q148_cross_source_pairs", "q157_prune_candidates", "q09c_csv_roundtrip",
    "q179_stream_heavy_hitters")

  // A moderate skew, chosen rather than measured from analyst traffic:
  // rank r is drawn in proportion to 1 / r.
  val ZipfS = 1.0
  val DeckCards = 30

  /** A run makes one deck per full SecondsPerDeck of its seconds, at least
    * one. At 15 seconds that is two decks, 62 requests: the first holds
    * the memo builds, the second only hits and reruns. A deck takes longer
    * than this (about 33 s with its memo builds, 20 s without, on a 4-core
    * host); the figure only sets the number of decks, so that every run
    * of one length does the same work.
    */
  val SecondsPerDeck = 7.5

  /** One deck: rank r of the subset appears in proportion to 1 / r^ZipfS,
    * at least once, about DeckCards requests in all. Every seed draws the
    * same deck, so runs with different seeds do the same work.
    */
  val deck: IndexedSeq[String] = {
    val w = Subset.indices.map(r => 1.0 / math.pow(r + 1, ZipfS))
    Subset.zip(w).flatMap { case (q, x) =>
      Seq.fill(math.max(1, math.round(DeckCards * x / w.sum).toInt))(q)
    }
  }

  /** The request sequence: the deck, shuffled by the seed, again and
    * again (each time reshuffled).
    */
  def draws(seed: Long): IndexedSeq[String] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(20)(rng.shuffle(deck)).flatten
  }
}
