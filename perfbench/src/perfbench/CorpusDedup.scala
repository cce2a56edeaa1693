package perfbench

import graft.ml.{Dedup, TextAnalysis}
import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** `corpus_dedup`: the LLM-data operators on a corpus with planted
  * duplicate clusters.
  *
  * minhashLshPairs → connectedComponents → keep the min id per cluster →
  * qualityScore filter → parquet. Closed loop, one client. Checked against
  * the planted ground truth: exact-duplicate clusters fully merged, no two
  * planted clusters merged, near-duplicate recall at or above a floor, and
  * the written ids equal to the cluster minima that pass the quality bar
  * (quality is planted too: junk documents fail it by construction). */
final class CorpusDedup extends Workload {
  def name = "corpus_dedup"

  private val BaseDocs = 9000
  // Duplicate, edit and junk shares: unsourced assumptions (README,
  // "Traffic parameters and their sources").
  private val ExactShare = 0.06 // base docs that get 1-3 identical copies
  private val NearShare = 0.08 // base docs that get 1-4 edited variants
  private val EditRate = 0.03 // token substitutions per variant
  private val JunkShare = 0.05 // base docs that fail the quality bar
  private val QualityBar = 0.75
  private val RecallFloor = 0.9

  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

  private var inDir: File = _
  private var nDocs = 0
  /** doc id → planted group (the base doc's index) and kind. */
  private var group: Array[Int] = Array.empty
  private var kind: Array[Byte] = Array.empty // 0 base, 1 exact copy, 2 near variant
  private var junk: Array[Boolean] = Array.empty
  private var realized: Seq[(String, Double)] = Nil

  def generate(dir: File, seed: Long): Unit = {
    inDir = dir
    val rnd = new scala.util.Random(seed)
    val vocab = Array.fill(4000)(Iterator.continually(('a' + rnd.nextInt(26)).toChar)
      .take(3 + rnd.nextInt(7)).mkString)
    def word(): String = if (rnd.nextDouble() < 0.25) Stop(rnd.nextInt(Stop.size)) else vocab(rnd.nextInt(vocab.length))
    def render(tokens: Array[String]): String = {
      val b = new StringBuilder
      var k = 0
      while (k < tokens.length) {
        b ++= tokens(k)
        k += 1
        b ++= (if (k % 11 == 0) ". " else if (k % 5 == 0) ", " else " ")
      }
      b.toString.trim
    }
    // consonants and symbols only: no stopword can appear, and the symbols
    // push the punctuation share past the quality rule's limit
    val junkChars = "bcdfghjkmp#$%&*!?@"
    val docs = mutable.ArrayBuffer.empty[(String, Int, Byte, Boolean)]
    val nearSizes = mutable.ArrayBuffer.empty[Int]
    for (g <- 0 until BaseDocs) {
      if (rnd.nextDouble() < JunkShare) {
        val toks = Array.fill(15 + rnd.nextInt(25))(Iterator.continually(junkChars(rnd.nextInt(junkChars.length)))
          .take(3 + rnd.nextInt(6)).mkString)
        docs += ((toks.mkString(" "), g, 0, true))
      } else {
        val toks = Array.fill(80 + rnd.nextInt(140))(word())
        docs += ((render(toks), g, 0, false))
        val u = rnd.nextDouble()
        if (u < ExactShare) {
          (0 until 1 + rnd.nextInt(3)).foreach(_ => docs += ((render(toks), g, 1, false)))
        } else if (u < ExactShare + NearShare) {
          val k = 1 + rnd.nextInt(4)
          nearSizes += k + 1
          (0 until k).foreach { _ =>
            val v = toks.clone()
            val edits = math.max(1, (v.length * EditRate).round.toInt)
            (0 until edits).foreach(_ => v(rnd.nextInt(v.length)) = vocab(rnd.nextInt(vocab.length)))
            docs += ((render(v), g, 2, false))
          }
        }
      }
    }
    // ids are a seeded permutation, so a cluster's minimum id is any member
    val order = rnd.shuffle(docs.indices.toVector)
    nDocs = docs.size
    group = new Array[Int](nDocs)
    kind = new Array[Byte](nDocs)
    junk = new Array[Boolean](nDocs)
    val files = Array.fill(8)(new StringBuilder)
    for ((src, id) <- order.zipWithIndex) {
      val (text, g, k, j) = docs(src)
      group(id) = g; kind(id) = k; junk(id) = j
      files(id % files.length) ++= Json.write(ListMap("id" -> id, "text" -> text)) += '\n'
    }
    files.zipWithIndex.foreach { case (b, k) => Fs.write(new File(dir, f"part-$k%02d.json"), b.toString) }
    val lens = docs.map(_._1.length.toDouble).toSeq
    realized = Seq("docs" -> nDocs.toDouble,
      "exact_dup_share" -> kind.count(_ == 1) / nDocs.toDouble,
      "near_dup_share" -> kind.count(_ == 2) / nDocs.toDouble,
      "near_cluster_size_mean" -> (if (nearSizes.isEmpty) 0.0 else nearSizes.sum.toDouble / nearSizes.size),
      "near_cluster_size_max" -> (if (nearSizes.isEmpty) 0.0 else nearSizes.max.toDouble),
      "junk_share" -> junk.count(identity) / nDocs.toDouble,
      "doc_chars_p50" -> Stats.median(lens), "doc_chars_max" -> lens.max)
  }

  def dims: Seq[(String, Double)] = realized

  private var lastLabels: Array[Long] = Array.empty
  private var lastKept: Set[Long] = Set.empty
  private var recall = 0.0

  /** Check components and output against the planted truth. */
  def check(labels: Array[Long], kept: Set[Long]): Option[String] = {
    if (labels.length != nDocs || labels.contains(-1L)) return Some("not every doc labelled")
    val byGroup = (0 until nDocs).groupBy(group(_))
    for ((g, ids) <- byGroup) {
      val exact = ids.filter(i => kind(i) != 2).map(labels(_)).distinct
      if (exact.size != 1) return Some(s"exact cluster $g split over ${exact.size} components")
    }
    val groupsPerLabel = (0 until nDocs).groupBy(labels(_)).map { case (l, ids) => l -> ids.map(group(_)).distinct }
    groupsPerLabel.find(_._2.size > 1).foreach { case (l, gs) =>
      return Some(s"component $l merges planted clusters ${gs.take(3)}")
    }
    val near = (0 until nDocs).filter(kind(_) == 2)
    val baseLabel = byGroup.map { case (g, ids) => g -> labels(ids.find(kind(_) == 0).get) }
    recall = if (near.isEmpty) 1.0 else near.count(i => labels(i) == baseLabel(group(i))).toDouble / near.size
    if (recall < RecallFloor) return Some(f"planted recall $recall%.3f < $RecallFloor")
    val expectKept = (0 until nDocs).filter(i => labels(i) == i && !junk(i)).map(_.toLong).toSet
    if (kept != expectKept)
      return Some(s"kept ${kept.size} docs, expected ${expectKept.size} " +
        s"(${(kept -- expectKept).take(3)} extra, ${(expectKept -- kept).take(3)} missing)")
    None
  }

  def iteration(env: Env): Iter = {
    val tr = env.tracer
    val spark = env.spark
    val out = env.scratch("corpus-out")
    val t0 = System.nanoTime()
    val docs = scanInput(env)
    val pairs = tr.span("ml.pairs") {
      val p = Dedup.minhashLshPairs(docs, "id", "text").persist()
      tr.add("ml.verified_pairs", p.count().toDouble)
      p
    }
    val labels = tr.span("ml.cc")(Dedup.connectedComponents(docs.select(col("id").as("node")), pairs))
    if (tr.active) tr.add("ml.cc_rounds", graft.BenchAccess.ccRounds.toDouble)
    val good = tr.span("ml.quality") {
      labels.filter(col("node") === col("label")).join(docs, col("node") === col("id"))
        .filter(TextAnalysis.qualityScore(col("text")) >= QualityBar)
        .select("id", "text").localCheckpoint(true)
    }
    tr.span("conn.write")(good.write.mode("overwrite").parquet(out.getPath))
    val verdict = tr.span("bench.check") {
      val lab = Array.fill(nDocs)(-1L)
      labels.collect().foreach(r => lab(r.getLong(0).toInt) = r.getLong(1))
      lastLabels = lab
      lastKept = spark.read.parquet(out.getPath).select("id").collect().map(_.getLong(0)).toSet
      check(lab, lastKept)
    }
    pairs.unpersist()
    val wall = (System.nanoTime() - t0) / 1e6
    if (tr.active) tr.add("ml.planted_recall", recall)
    verdict.foreach(v => System.err.println(s"perfbench: corpus_dedup check failed: $v"))
    Iter(nDocs, wall, verdict.isEmpty)
  }

  def scanInput(env: Env): DataFrame = env.spark.read.schema("id LONG, text STRING").json(inDir.getPath)

  override def negativeControlFlagged(): Boolean = {
    // merge two planted clusters into one component
    val bad = lastLabels.clone()
    val a = bad(0)
    val b = (0 until nDocs).find(i => group(i) != group(0)).map(bad(_)).get
    bad.indices.foreach(i => if (bad(i) == b) bad(i) = a)
    check(bad, lastKept).isDefined
  }

  override def layerMetrics(env: Env): Seq[(String, Double)] = {
    val l = Main.listener.get
    // candidate pairs: rows out of the first verification join (candidates
    // ⋈ shingles of id_a), the second join from the top of the pairs plan;
    // read from the count that materializes the pairs
    val cands = l.qes.filter(_.iter >= 0).groupBy(_.iter).values
      .flatMap(_.find(q => q.funcName == "count" && q.joinRows.size >= 2)).map(_.joinRows(1).toDouble)
    val n = env.tracer.iterations.size.toDouble
    val verified = env.tracer.counts.getOrElse("ml.verified_pairs", 0.0) / n
    val c = if (cands.isEmpty) 0.0 else cands.sum / cands.size
    Seq("ml.candidate_pairs" -> c, "ml.verify_yield" -> (if (c > 0) verified / c else 0.0))
  }
}
