package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.Artm
import graft.operators._
import graft.pipeline.{Curation, Dedup, Sampling, TextAnalysis}
import graft.regularizers.{DecorrelatorPhi, SmoothSparsePhi}
import graft.sources.Corpus

/** Result of one op: work done (tokens or docs), the output fingerprint
  * that every repetition must reproduce exactly, and a short note. */
final case class OpOut(items: Double, fingerprint: String, note: String = "")

/** One operation of a workload's closed loop. `prepare` runs untimed
  * before each `run`. */
final case class Op(name: String, run: () => OpOut, prepare: () => Unit = () => ())

/** A workload: seeded inputs, a main op and a side op issued in turn,
  * invariant checks for a warm-up output, and a traced rebuild of the
  * same two ops from the layers' public calls. */
trait Workload {
  def setup(): Unit
  def main: Op
  def side: Op
  /** Invariant violations of the latest main and side outputs. */
  def verify(main: OpOut, side: OpOut): Seq[String]
  def traced(tr: Tracer): (OpOut, OpOut)
}

/** The ARTM workload. The main op is a whole offline fit through the
  * `Artm` facade with `SmoothSparsePhi` and `DecorrelatorPhi`; the side
  * op is `Fit.transform` of a held-out set with the fitted Phi, the call
  * `Artm.transform` delegates to. */
final class ArtmWorkload(spark: SparkSession, shape: Gen.ArtmShape, heldDocs: Int,
    topics: Int, passes: Int, docPasses: Int, seed: Long, parts: Int)
    extends Workload {

  private val estep = EStepConfig(numDocumentPasses = docPasses)
  private val modelSeed = (seed & 0x7fffffffL).toInt
  private val regs: Seq[(PhiRegularizer, Float)] =
    Seq((SmoothSparsePhi(), -0.1f), (DecorrelatorPhi(), 1.0e5f))
  private val topicNames = (0 until topics).map(i => s"topic_$i")

  private var train: DataFrame = _
  private var held: DataFrame = _
  private var entries = 0L
  private var vocab = 0L
  private var lastPhi: PhiLocal = _
  private var lastTraj: Seq[Double] = Nil
  private var phiDf: DataFrame = _
  private var lastThetaDev = 0.0

  def setup(): Unit = {
    val t = Gen.artmDocs(spark, shape, seed, 1L, 0L, parts)
    train = t.docs
    entries = t.entries
    vocab = t.vocab
    held = Gen.artmDocs(spark, shape.copy(docs = heldDocs), seed, 2L, 1000000000L, parts).docs
  }

  def tokensPerFit: Double = entries.toDouble * passes

  private def fitOut(phi: PhiLocal, traj: Seq[Double]): OpOut = {
    lastPhi = phi
    lastTraj = traj
    OpOut(tokensPerFit,
      s"perplexity=${traj.map(java.lang.Double.toString).mkString(",")};phi=${java.lang.Long.toHexString(phiChecksum(phi))}",
      s"perplexity ${traj.last}")
  }

  val main: Op = Op("fit", () => {
    val corpus = Corpus.fromDocumentsTable(train).persist(MEMORY_AND_DISK)
    corpus.count()
    val m = new Artm(spark, topics, seed = modelSeed, numDocumentPasses = docPasses,
      phiRegularizers = regs)
    m.gatherDictionary(corpus).initialize().fitOffline(corpus, passes)
    fitOut(PhiOps.collectPhi(m.getPhi, topics), m.scoreTracker.map(_.perplexity))
  })

  private def thetaOut(theta: DataFrame): OpOut = {
    val r = theta.agg(count(lit(1)),
      bit_xor(xxhash64(col("doc_id"), col("weights"))),
      max(abs(aggregate(col("weights"), lit(0.0), (a, x) => a + x) - 1.0))).head()
    lastThetaDev = r.getDouble(2)
    OpOut(r.getLong(0).toDouble, s"docs=${r.getLong(0)};theta=${java.lang.Long.toHexString(r.getLong(1))}")
  }

  val side: Op = Op("transform",
    () => thetaOut(Fit.transform(Corpus.fromDocumentsTable(held), phiDf, topics, estep)),
    prepare = () => if (phiDf == null) phiDf = PhiOps.phiFromLocal(spark, lastPhi))

  /** Order-free exact checksum of a Phi: wrapping sum of per-row hashes
    * over (class, token, float bits). */
  def phiChecksum(p: PhiLocal): Long = {
    var s = 0L
    var i = 0
    while (i < p.numTokens) {
      var h = Gen.mix((p.classIds(i) + "\u0000" + p.tokens(i)).hashCode.toLong)
      var k = 0
      while (k < p.numTopics) {
        h = Gen.mix(h ^ java.lang.Float.floatToRawIntBits(p.flat(p.offset(i) + k)).toLong)
        k += 1
      }
      s += h
      i += 1
    }
    s
  }

  def verify(mainOut: OpOut, sideOut: OpOut): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val p = lastPhi
    // SmoothSparsePhi can zero a token's whole row; the E-step then
    // emits no n_wt for it and the row leaves Phi
    if (p.numTokens > vocab)
      errs += s"phi has ${p.numTokens} rows, vocabulary has $vocab"
    val colSum = new Array[Double](topics)
    var bad = 0L
    var i = 0
    while (i < p.flat.length) {
      val v = p.flat(i)
      if (!(v >= 0.0f) || v.isInfinite) bad += 1 else colSum(i % topics) += v
      i += 1
    }
    if (bad > 0) errs += s"$bad phi entries negative or not finite"
    colSum.zipWithIndex.foreach { case (s, t) =>
      if (s != 0.0 && math.abs(s - 1.0) > 1e-3) errs += s"phi column $t sums to $s"
    }
    if (lastTraj.length != passes) errs += s"${lastTraj.length} passes scored, expected $passes"
    if (!lastTraj.forall(x => x > 0.0 && !x.isInfinite)) errs += s"perplexity not finite: $lastTraj"
    if (!(lastTraj.last < lastTraj.head)) errs += s"perplexity did not fall: $lastTraj"
    if (sideOut.items != heldDocs) errs += s"transform returned ${sideOut.items} docs, expected $heldDocs"
    if (!(lastThetaDev < 1e-3)) errs += s"theta rows deviate from sum 1 by $lastThetaDev"
    errs.toSeq
  }

  /** One fit rebuilt from the public operators `Fit.fitOffline` runs,
    * each layer materialized before the next; then the transform. */
  def traced(tr: Tracer): (OpOut, OpOut) = {
    val corpus = tr("sources.corpus") {
      val c = Corpus.fromDocumentsTable(train).persist(MEMORY_AND_DISK)
      c.count()
      c
    }
    val (dict, pwt0) = tr("operators.dictionary") {
      val d = DictionaryOps.gather(corpus).cache()
      DictionaryOps.numItems(corpus)
      val p = PhiOps.initializeModel(d, topics, modelSeed).persist(MEMORY_AND_DISK)
      p.count()
      (d, p)
    }
    var phiLocal = tr("operators.phi_broadcast")(PhiOps.collectPhi(pwt0, topics))
    var pwt = tr("operators.phi_broadcast")(PhiOps.phiFromLocal(spark, phiLocal))
    val ctx = RegContext(spark, topics, topicNames, Some(dict), None)
    val traj = ArrayBuffer.empty[Double]
    var pass = 0
    while (pass < passes) {
      val bPhi = tr("operators.phi_broadcast")(spark.sparkContext.broadcast(phiLocal))
      tr.count("operators.phi_broadcast.bytes", phiBytes(phiLocal))
      val out = tr("operators.estep") {
        val o = EStep.run(corpus, bPhi, estep).persist(MEMORY_AND_DISK)
        o.count()
        o
      }
      tr.count("operators.estep.tokens", entries.toDouble)
      val nwt = tr("operators.nwt") {
        val n = EStep.nwt(out).persist(MEMORY_AND_DISK)
        n.count()
        n
      }
      traj += tr("scores.pass")(Fit.cumulativeScores(pass, out, topics)).perplexity
      val rwt = tr("regularizers.phi") {
        val r = PhiOps.mergeModels(regs.map { case (reg, tau) => (reg(pwt, nwt, ctx), tau) })
          .persist(MEMORY_AND_DISK)
        r.count()
        r
      }
      val newPwt = tr("operators.normalize") {
        val p = PhiOps.normalizeModel(nwt, Some(rwt)).persist(MEMORY_AND_DISK)
        p.count()
        p
      }
      phiLocal = tr("operators.phi_broadcast")(PhiOps.collectPhi(newPwt, topics))
      pass += 1
      if (pass < passes) pwt = tr("operators.phi_broadcast")(PhiOps.phiFromLocal(spark, phiLocal))
      Seq(out, nwt, rwt, newPwt).foreach(_.unpersist(false))
      bPhi.unpersist(false)
    }
    val fit = fitOut(phiLocal, traj.toSeq)
    val phiForTransform = PhiOps.phiFromLocal(spark, phiLocal)
    val transformed = tr("operators.transform")(thetaOut(
      Fit.transform(Corpus.fromDocumentsTable(held), phiForTransform, topics, estep)))
    (fit, transformed)
  }

  /** Broadcast payload of a Phi: its floats plus its token strings. */
  private def phiBytes(p: PhiLocal): Double = {
    var b = 4.0 * p.flat.length
    var i = 0
    while (i < p.numTokens) { b += 2.0 * (p.tokens(i).length + p.classIds(i).length); i += 1 }
    b
  }
}

/** The curation workload. The main op is `Curation.curate` with the
  * quality, language, PII, exact-dedup and near-dup stages plus source
  * mixing and packing; the side op is the same facade with near-dup
  * removal off (exact dedup only), which skips the LSH path. */
final class CurateWorkload(spark: SparkSession, shape: Gen.CurateShape, seed: Long,
    parts: Int) extends Workload {

  private val rates: Map[String, Double] =
    (Gen.webSources.zipWithIndex.map { case (s, i) => s -> (1.0 - 0.05 * (i % 4)) } ++
      Gen.hotSources.map(_ -> 0.9)).toMap
  val full: Curation.Config = Curation.Config(
    languages = Set("en", "de", "fr"), mixRates = rates, packBudget = 2048L)
  val exactOnly: Curation.Config = full.copy(nearDupThreshold = 1.0)

  private var input: DataFrame = _
  private var total = 0L
  private var lastDistinctText = Map.empty[String, Long]

  def setup(): Unit = {
    val (df, n) = Gen.curateDocs(spark, shape, seed, parts)
    input = df
    total = n
  }

  /** Materializes a curated output: kept count, an exact hash of the
    * kept (id, bin) pairs, and the count of distinct kept bodies. */
  private def keptOut(op: String, out: DataFrame): OpOut = {
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    val r = out.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("bin"))),
      countDistinct(md5(norm)), min(col("doc_id")), max(col("doc_id"))).head()
    val kept = r.getLong(0)
    lastDistinctText += op -> r.getLong(2)
    val inRange = kept == 0 || (r.getLong(3) >= 0 && r.getLong(4) < total)
    OpOut(total.toDouble,
      s"kept=$kept;ids=${java.lang.Long.toHexString(r.getLong(1))};in_range=$inRange",
      s"kept $kept of $total")
  }

  val main: Op = Op("curate", () => keptOut("curate", Curation.curate(input, full)))
  val side: Op = Op("curate_exact", () => keptOut("curate_exact", Curation.curate(input, exactOnly)))

  private def kept(o: OpOut): Long =
    o.fingerprint.split(';').head.stripPrefix("kept=").toLong

  def verify(mainOut: OpOut, sideOut: OpOut): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    Seq("curate" -> mainOut, "curate_exact" -> sideOut).foreach { case (op, o) =>
      val k = kept(o)
      if (k <= 0 || k >= total) errs += s"$op kept $k of $total docs"
      if (!o.fingerprint.endsWith("in_range=true")) errs += s"$op kept ids outside the input"
      if (lastDistinctText(op) != k) errs += s"$op kept ${k - lastDistinctText(op)} exact duplicates"
    }
    if (!(kept(mainOut) < kept(sideOut)))
      errs += s"near-dup removal kept ${kept(mainOut)} docs, exact-only kept ${kept(sideOut)}"
    errs.toSeq
  }

  def traced(tr: Tracer): (OpOut, OpOut) =
    (tracedCurate(tr, full, "curate"), tracedCurate(tr, exactOnly, "curate_exact"))

  /** `Curation.curate` rebuilt stage by stage for this config (no
    * Unicode, C4, entropy, boilerplate, LM or token-budget stages), each
    * stage materialized before the next. */
  private def tracedCurate(tr: Tracer, cfg: Curation.Config, op: String): OpOut = {
    var d = tr("pipeline.gates") {
      val g = TextAnalysis.qualityScore(input, "text")
        .filter(col("quality") >= cfg.minQuality)
        .drop("n_chars_q", "n_tokens_q", "punct_ratio", "stopword_ratio",
          "mean_token_len", "repetition_ratio")
        .withColumn("lang_pred", TextAnalysis.langPredCol(col("text")))
        .filter(col("lang_pred").isin(cfg.languages.toSeq: _*))
        .withColumn("text", TextAnalysis.piiScrubCol(col("text")))
        .persist(MEMORY_AND_DISK)
      g.count()
      g
    }
    d = tr("pipeline.exact_dedup") {
      val canon = Dedup.exact(d, "doc_id", "text").select(col("canonical_id"))
      val e = d.join(canon, d("doc_id") === canon("canonical_id"), "left_semi")
        .persist(MEMORY_AND_DISK)
      e.count()
      e
    }
    if (cfg.nearDupThreshold < 1.0) {
      val sh = tr("pipeline.shingle") {
        val s = Dedup.shingleTable(d, "doc_id", "text", cfg.shingleK)
        s.count()
        s
      }
      val pairs = tr("pipeline.minhash") {
        val p = Dedup.minhashLsh(d, "doc_id", "text", cfg.shingleK, cfg.numHashes,
          cfg.bands, cfg.nearDupThreshold, shinglesDf = Some(sh)).persist(MEMORY_AND_DISK)
        tr.count("pipeline.minhash.pairs", p.count().toDouble)
        p
      }
      d = tr("pipeline.clusters") {
        val drop = Dedup.duplicateClusters(pairs)
          .filter(col("id") =!= col("cluster_id")).select(col("id"))
        val c = d.join(drop, d("doc_id") === drop("id"), "left_anti").persist(MEMORY_AND_DISK)
        c.count()
        c
      }
      sh.unpersist(false)
    }
    tr("pipeline.mix_pack") {
      val mixed = Sampling.mixSources(d, "source", cfg.mixRates, "doc_id", cfg.salt)
      val counted = TextAnalysis.tokenCounts(mixed, "text").drop("bpeish_tokens")
      keptOut(op, Sampling.packSequences(counted, "ws_tokens", cfg.packBudget, orderCol = "doc_id"))
    }
  }
}
