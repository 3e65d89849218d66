package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Invert, Similarity}

/** `lake_query`: one client in a closed loop over a fixed, seeded-order mix
  * of read-only queries — corpus queries from `SparkEntry.queries`
  * (relational, text, the curation operators: rule validation,
  * MinHash-LSH dedup, decontamination, quality filter; and the incremental
  * operators: PK merge, snapshot diff) plus retrieval over indexes
  * persisted in set-up (BM25 postings and IVF). Each
  * result is evaluated in full through the `noop` sink, never `.count()`,
  * which would let the optimizer prune columns and sorts away. An observed
  * digest (row count plus order-insensitive hash) rides along each run and
  * must match the warm-up's and, for recorded seeds, the recorded one.
  *
  * Op: one query.
  */
final class LakeQuery(ctx: Ctx) extends Workload(ctx) {
  val name = "lake_query"

  private val Relational = Seq("q02_pricing_summary", "q06_outer_join_agg", "q17_json_extract")
  private val TextQ = Seq("q29_text_stats", "q105_phrase_search")
  /** Curation operators through the corpus query that runs each, by the
    * curation stage that uses the operator.
    */
  private val CurationQ = Seq("validate" -> "q94_validate_rules", "dedup" -> "q41_dedup_minhash_md5",
    "decontaminate" -> "q65_decontaminate", "quality" -> "q50_quality_filter")
  /** Incremental operators (PK merge, snapshot diff) through their corpus queries. */
  private val IncrementalQ = Seq("merge" -> "q20_merge_upsert", "snapshot_diff" -> "q123_snapshot_diff")
  private val Terms = Seq("customer", "vector", "stream")
  private val Tables = Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")

  private var dir: String = _
  private def tables = s"$dir/tables"
  private def idx(n: String) = s"$dir/index/$n"
  private def t(n: String) = spark.read.parquet(s"$tables/$n.parquet")
  private def probe = t("embeddings").where(col("vec_id") === 0L).select("embedding")
  private def bm25(k: Int) =
    Invert.bm25TopK(Invert.readIndex(spark, idx("bm25")), Invert.docLengths(t("documents"), "doc_id", "text"),
      Terms, k)
  private def ivf(k: Int, nprobe: Int) =
    Similarity.ivfTopKIndexed(spark, idx("ivf"), "vec_id", "embedding", probe, k, nprobe, Some(0L))

  /** Retrieval over the indexes persisted in set-up. */
  private def persisted: Seq[(String, () => DataFrame)] = Seq(
    "idx_bm25" -> (() => bm25(20)),
    "idx_ivf" -> (() => ivf(10, 4)))

  /** (name, span name, layer, query). */
  private lazy val mix: Seq[(String, String, String, () => DataFrame)] = {
    val q = SparkEntry.queries
    def corpus(n: String) = () => q(n)(spark, tables)
    Relational.map(n => (n, "queries.relational", "queries", corpus(n))) ++
      TextQ.map(n => (n, "queries.text", "queries", corpus(n))) ++
      persisted.map { case (n, f) => (n, "queries.retrieval", "queries", f) } ++
      CurationQ.map { case (st, n) => (n, s"curation.$st", "curation", corpus(n)) } ++
      IncrementalQ.map { case (op, n) => (n, s"incremental.$op", "incremental", corpus(n)) }
  }

  /** Timed passes over the mix: one pass takes about 11 s at k = 2 on a 4-core host. */
  private def passes: Int = math.max(1, math.round(ctx.seconds / 11.0).toInt)

  private var reference: Map[String, String] = Map.empty
  private var indexBytes = 0L
  private var tableBytes = 0L

  def setup(d: String, rep: Int): Unit = {
    dir = d
    ctx.gen.corpus.filter(c => Tables.contains(c._1))
      .foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$tables/$n.parquet") }
    val emb = t("embeddings")
    Invert.writeIndex(spark, Invert.postingLists(t("documents"), "doc_id", "text", blockDocs = 100L),
      idx("bm25"), files = ctx.k)
    Similarity.ivfBuild(spark, emb, "vec_id", "embedding", emb.where(col("vec_id") < 16), "vec_id",
      "embedding", idx("ivf"), files = ctx.k)
    tableBytes = LakeFiles.bytes(tables)
    indexBytes = LakeFiles.bytes(s"$d/index")
  }

  /** Runs one query to completion through the `noop` sink; returns the
    * observed digest of its full result.
    */
  private def evaluate(df: DataFrame): String = {
    val obs = Observation()
    val e = Digest.exprs(df)
    df.observe(obs, e.head, e.tail: _*).write.format("noop").mode("overwrite").save()
    val m = obs.get
    def v(k: String): Long = m.get(k).collect { case x: java.lang.Long => x.longValue }.getOrElse(0L)
    s"${v("d_n")}:${v("d_s")}:${v("d_x")}"
  }

  override def warmup(): Unit = {
    reference = mix.map { case (n, _, _, f) => n -> evaluate(f()) }.toMap
    val recorded = Expected.load(name, ctx.seed, ctx.scale)
    recordedBad = reference.toSeq.collect { case (n, d) if recorded.get(n).exists(_ != d) => n }
  }

  private var recordedBad: Seq[String] = Nil
  private var opId = 0L
  private var corruptNext = false

  def timed(pass: Int): Unit = {
    val rnd = new scala.util.Random(ctx.seed * 31 + pass)
    (0 until passes).foreach { _ =>
      rnd.shuffle(mix).foreach { case (n, span, layer, f) =>
        opId += 1
        // a full collection first, so no query pays for its predecessor's
        // garbage in the seed-shuffled order (counted in wall_s, not op times)
        System.gc()
        val (secs, res) = timedOp(Trace.span(span, layer, opId)(evaluate(f())))
        val ok = res.contains(reference(n)) && !recordedBad.contains(n)
        ops += new OpRec(s"$n#$opId", secs, ok, pass)
      }
    }
    writtenBytes = tableBytes + indexBytes
    inputBytes = tableBytes
  }

  def finalTables: Seq[LakeTable] = Tables.map(n => LakeTable(n, s"$tables/$n.parquet"))

  def check(d: Map[String, String]): Seq[String] = {
    val fresh =
      if (!corruptNext) Nil
      else {
        // a damaged result: the first query's rows with one row repeated
        val (n, _, _, f) = mix.head
        val df = f()
        Seq(n -> evaluate(df.unionAll(df.limit(1))))
      }
    (fresh.collect { case (n, dg) if dg != reference(n) => s"$n: digest $dg != ${reference(n)}" } ++
      recordedBad.map(n => s"$n: digest ${reference(n)} differs from the recorded one") ++
      ops.filter(!_.ok).map(o => s"${o.key}: result digest differs from the warm-up's")).toSeq
  }

  def corrupt(): Unit = corruptNext = true

  override def layerMetrics(t: TraceData, pass: Int): Map[String, Double] = {
    val layers = Set("queries", "curation", "incremental")
    val spans = t.spans.filter(s => layers.contains(s.layer))
    def medianOf(name: String) = Stats.median(spans.filter(_.name == name).map(_.durMs / 1e3))
    def operator(layer: String, op: String) = {
      val ts = t.tasksOf(t.jobsOf(_.name == s"$layer.$op"))
      Seq(
        s"$layer.${op}_s" -> medianOf(s"$layer.$op"),
        s"$layer.$op.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        s"$layer.$op.shuffle_bytes" -> ts.map(_.shuffleWrite).sum.toDouble)
    }
    (Seq("relational", "text", "retrieval").map(c => s"queries.${c}_s" -> medianOf(s"queries.$c")) ++
      Main.Stages.flatMap(operator("curation", _)) ++
      Main.IncrementalOps.flatMap(operator("incremental", _))).filter(!_._2.isNaN).toMap ++
      Map("queries.spark_jobs_per_query" ->
        t.jobsOf(s => layers.contains(s.layer)).size.toDouble / math.max(1, spans.size))
  }

  override def detail: Seq[(String, String)] = Seq(
    "passes" -> passes.toString, "queries" -> mix.size.toString,
    "record" -> Json.obj(reference.toSeq.sorted.map { case (n, d) => n -> Json.str(d) }))
}
