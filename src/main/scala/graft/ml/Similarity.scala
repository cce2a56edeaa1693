package graft.ml

import graft.functions.Blob
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Checkpoint
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the (huge) corpus, one scan, no shuffle of the corpus, then
  * a per-query top-k. This is the exact-recall reference and is already
  * the right 100 TB plan when queries are few: corpus partitions stream
  * once, `dot` runs in codegen, only k rows per (query, partition) survive.
  *
  * Scale path: random-hyperplane LSH — bucket corpus + queries by sign
  * signature and only score within matching buckets (tunable recall).
  */
object Similarity {

  /** Sign-signature of `planes` random hyperplanes (deterministic seed) as
    * a compact Long bucket id. One fused per-row loop over the vector — the
    * expression form (dim × planes element_at terms) exceeds the 64KB
    * codegen method limit and falls back to slow interpretation. */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int, seed: Long): Column = {
    val rnd = new scala.util.Random(seed)
    val m = Array.fill(planes, dim)(rnd.nextGaussian()) // planes × dim
    val f = udf { (v: Seq[Float]) =>
      var sig = 0L
      var p = 0
      while (p < planes) {
        var dot = 0.0
        var i = 0
        val row = m(p)
        val n = math.min(dim, v.length)
        while (i < n) { dot += row(i) * v(i); i += 1 }
        if (dot >= 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
    f(vec.cast(ArrayType(FloatType)))
  }

  /** Brute-force cosine top-k for each row of `queries` against `corpus`.
    * Output: (query_id, vec_id, cosine, rank) with rank 1..k.
    * `queries` is broadcast; the corpus is scanned exactly once.
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv")))
    val scored = corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("_cv"))
      .crossJoin(q)
      .withColumn("cosine", Blob.cosineSimilarity(col("_cv"), col("_qv")))
    // deterministic total order: cosine desc, id asc
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Spherical k-means centroids for an IVF index, trained distributed
    * with a fixed iteration count and a fully deterministic start (the
    * `nCells` corpus rows with the smallest xxhash64(id) — no RNG, no
    * fork-order dependence). Each iteration is one Spark job: broadcast
    * centroids, argmax-dot assignment in a fused per-row loop, then
    * `dim` avg aggregates per cell. Centroid state is nCells × dim
    * doubles — driver-resident by design (kilobytes), the corpus never
    * leaves its partitions. `trainMod > 1` trains on the deterministic
    * 1/trainMod hash-sample of the corpus — at 100 TB centroid quality
    * needs a sample, not a full pass. */
  def ivfCentroids(corpus: DataFrame, corpusId: String, corpusVec: String,
                   dim: Int, nCells: Int, iters: Int = 4,
                   trainMod: Int = 1,
                   hierAssignFrom: Int = hierAssignThreshold): Array[Array[Double]] = {
    val base0 = corpus.select(col(corpusId).as("_id"),
      normalized(col(corpusVec)).as("_nv"))
    val base = Checkpoint.now(if (trainMod > 1) // scanned once; reused every iteration
      base0.filter(pmod(xxhash64(col("_id")), lit(trainMod)) === 0) else base0)
    var cents = base.orderBy(xxhash64(col("_id")), col("_id")).limit(nCells)
      .select("_nv").collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      // TRAINING takes the two-level probe above the seam too (r19 —
      // r18 verdict #4): the per-iteration argmax was the last flat
      // O(nCells·dim)/row term, and it dominates once nCells tracks
      // the corpus (AnnQProbe: train 31-36 s vs query 1.9 s at
      // 200k×640). The coarse model re-derives from the CURRENT
      // centroids each iteration (driver-side, microseconds).
      val assign = if (cents.length >= hierAssignFrom) assignCellHier(cents)
                   else assignCell(cents)
      val means = base.groupBy(assign(col("_nv")).as("_cell"))
        .agg(array((0 until dim).map(i => avg(col("_nv").getItem(i))): _*).as("_m"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.indices.map { c =>
        means.get(c).map(unitNorm).getOrElse(cents(c)) // empty cell keeps its centroid
      }.toArray
    }
    Checkpoint.release(base) // fully consumed
    cents
  }

  private def unitNorm(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  private[graft] def normalized(vec: Column): Column = {
    val f = udf { (v: Seq[Float]) => unitNorm(v.map(_.toDouble).toArray) }
    f(vec.cast(ArrayType(FloatType)))
  }

  /** argmax-dot cell assignment against unit-norm centroids (one fused
    * loop — see hyperplaneSignature for why not an expression tree). */
  private[graft] def assignCell(cents: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      var best = 0
      var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        var dot = 0.0
        var i = 0
        val row = cents(c)
        val n = math.min(row.length, v.length)
        while (i < n) { dot += row(i) * v(i); i += 1 }
        if (dot > bestDot) { bestDot = dot; best = c }
        c += 1
      }
      best
    }

  /** Two-level (coarse-then-fine) cell assignment — the scale form of
    * [[assignCell]]: a flat argmax scans ALL k centroids per row
    * (O(k·dim)), which turns quadratic-ish once k must grow with the
    * corpus (SemDeDup's requirement; the 30× probe measured the 3.85×/3×
    * step this causes). Here the k centroids are themselves clustered —
    * driver-side Lloyd's over k points, microseconds — into ~√k coarse
    * groups; each row scans the √k coarse centroids, takes the
    * `nProbeCoarse` best groups, and scans only their children:
    * O((nProbeCoarse+1)·√k·dim) per row. Assignment is approximate (the
    * true argmax can live in an unprobed group — same trade as IVF's
    * nProbe); MlSpec gates agreement with the flat scan ≥ 95% and that
    * near-identical vectors still land together. Returns GLOBAL cell
    * indices, so it is a drop-in for [[assignCell]]. */
  private[graft] def assignCellHier(cents: Array[Array[Double]], nProbeCoarse: Int = 2)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val k = cents.length
    val dim = if (k > 0) cents(0).length else 0
    val g = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }; s
    }
    // Lloyd's over the centroid set (deterministic seed: every g-th centroid)
    var coarse = Array.tabulate(g)(j => cents(j * k / g))
    val groupOf = new Array[Int](k)
    for (_ <- 0 until 4) {
      var c = 0
      while (c < k) {
        var best = 0; var bd = Double.NegativeInfinity; var j = 0
        while (j < g) {
          val d = dot(coarse(j), cents(c)); if (d > bd) { bd = d; best = j }; j += 1
        }
        groupOf(c) = best; c += 1
      }
      coarse = Array.tabulate(g) { j =>
        val members = (0 until k).filter(groupOf(_) == j)
        if (members.isEmpty) coarse(j)
        else unitNorm(Array.tabulate(dim)(i => members.map(cents(_)(i)).sum / members.size))
      }
    }
    val children: Array[Array[Int]] =
      (0 until g).map(j => (0 until k).filter(groupOf(_) == j).toArray).toArray
    val coarseF = coarse
    udf { (v: Seq[Double]) =>
      val vv = v.toArray
      // top-nProbeCoarse coarse groups by dot
      val order = Array.tabulate(g)(j => (-dot(coarseF(j), vv), j)).sorted
      var best = -1
      var bestDot = Double.NegativeInfinity
      var p = 0
      while (p < math.min(nProbeCoarse, g)) {
        val kids = children(order(p)._2)
        var ci = 0
        while (ci < kids.length) {
          val c = kids(ci)
          val d = dot(cents(c), vv)
          if (d > bestDot) { bestDot = d; best = c }
          ci += 1
        }
        p += 1
      }
      if (best >= 0) best
      else {
        // every probed group empty — exact flat fallback, UNIFIED with
        // assignCellHierQ (r18 advice: the float form previously
        // returned cell 0 here; the branch is argued unreachable on
        // gate corpora — see the quantized twin's reachability note —
        // but the two forms must not differ where it IS reached)
        var c = 0; var b = 0; var bd = Double.NegativeInfinity
        while (c < k) { val d = dot(cents(c), vv); if (d > bd) { bd = d; b = c }; c += 1 }
        b
      }
    }
  }

  /** Flat scan below this cell count; two-level probe at or above it
    * (the flat form is exact and cheaper while k·dim per row is
    * trivial). private[graft] so the scale probes mirror the SAME seam
    * instead of hardcoding 64 (r18 review). */
  private[graft] val hierAssignThreshold = 64

  /** `nProbe` nearest cells for a query vector (driver-built centroid
    * matrix, executor-fused loop): the IVF probe list. */
  private def probeCells(cents: Array[Array[Double]], nProbe: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      cents.indices.map { c =>
        var dot = 0.0
        var i = 0
        val row = cents(c)
        val n = math.min(row.length, v.length)
        while (i < n) { dot += row(i) * v(i); i += 1 }
        (-dot, c)
      }.sorted.take(nProbe).map(_._2)
    }

  /** IVF ANN: k-means-partition the corpus into `nCells` inverted lists,
    * probe the `nProbe` nearest lists per query, brute-force only inside
    * them. The 100 TB shape: the corpus is scanned once to tag cells (and
    * in a real deployment written out partitioned BY cell so probes prune
    * at the scan — partition pruning does the candidate selection), the
    * candidate join is corpus-side-narrow (nProbe/nCells of the data), and
    * the centroid state stays kilobytes. Recall is tunable via nProbe;
    * gated >= 0.9 on clustered fixtures in MlSpec alongside LSH. */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String, dim: Int,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nCells: Int = 16, nProbe: Int = 4, iters: Int = 4,
              trainMod: Int = 1,
              hierAssignFrom: Int = hierAssignThreshold): DataFrame = {
    val cents = ivfCentroids(corpus, corpusId, corpusVec, dim, nCells, iters,
      trainMod, hierAssignFrom)
    // corpus tagging takes the two-level probe at production cell
    // counts (the semDedup/ivfTopKQ seam — r18 parity: the float form
    // previously always flat-scanned); approximate above the
    // threshold, hierAssignFrom = Int.MaxValue forces exact. The seam
    // keys on cents.length, not the nCells parameter (r18 advice): an
    // injected model whose size disagrees with nCells must not pick a
    // different path than the streaming twin, which only sees the array
    val assign = if (cents.length >= hierAssignFrom) assignCellHier(cents)
                 else assignCell(cents)
    val probe = probeCells(cents, nProbe)
    val c = corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("_cv"),
      assign(normalized(col(corpusVec))).as("_cell"))
    val q = broadcast(queries
      .select(col(queryId).as("query_id"), col(queryVec).as("_qv"),
        explode(probe(normalized(col(queryVec)))).as("_cell")))
    val scored = c.join(q, Seq("_cell"))
      .withColumn("cosine", Blob.cosineSimilarity(col("_cv"), col("_qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Materialize an IVF index: the corpus tagged and written `partitionBy`
    * its inverted-list cell, plus a centroid sidecar. THE 100 TB layout —
    * probes then prune at the SCAN (Spark partition pruning reads only the
    * nProbe matching directories) instead of filtering post-read. Training
    * uses the deterministic hash-sample (`trainMod`): at corpus scale,
    * centroid quality needs a sample, not a full pass. Returns the
    * centroids (kilobytes — nCells × dim doubles). */
  def ivfWriteIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
                    dim: Int, path: String, nCells: Int = 16, iters: Int = 4,
                    trainMod: Int = 1,
                    hierAssignFrom: Int = hierAssignThreshold): Array[Array[Double]] = {
    val cents = ivfCentroids(corpus, corpusId, corpusVec, dim, nCells, iters,
      trainMod, hierAssignFrom)
    val assign = if (cents.length >= hierAssignFrom) assignCellHier(cents)
                 else assignCell(cents)
    corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("embedding"),
        assign(normalized(col(corpusVec))).as("_cell"))
      // ONE file per cell directory (hash-repartition on the partition
      // column): without this every write task emits a fragment into
      // every cell it holds — nTasks×nCells small files whose listing
      // dominates the pruned read (IdxReadProbe measured the 640-cell
      // index read 3× SLOWER than a flat scan from file-count alone).
      // At cluster scale the same rule keeps a 1000-executor build from
      // scattering 640k fragments. The shuffle is the index build's
      // one-time cost; a skewed giant cell writes one big file, which
      // the pruned read then streams — acceptable for a standing index.
      .repartition(col("_cell"))
      .write.mode("overwrite").partitionBy("_cell")
      .parquet(s"$path/vectors")
    // centroid sidecar: one line per centroid, comma-joined — no JSON dep,
    // exact round-trip via Double.toString/parseDouble
    val text = cents.map(_.mkString(",")).mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "centroids.txt"),
      text.getBytes("UTF-8"))
    cents
  }

  /** Probe a materialized IVF index: the query set (small by contract —
    * it broadcasts) resolves its probe cells DRIVER-side, and the scan
    * reads only those `_cell=` partitions (static partition pruning,
    * visible as PartitionFilters in the plan). Candidate scoring and
    * ranking match [[ivfTopK]] exactly for the same centroids. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, nProbe: Int = 4): DataFrame = {
    val cents = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, "centroids.txt")), "UTF-8")
      .split("\n").map(_.split(",").map(java.lang.Double.parseDouble))
    val probe = probeCells(cents, nProbe)
    // queries are few by contract (they broadcast): evaluate the probe
    // UDF ONCE by collecting the exploded rows, then derive BOTH the
    // driver-side probed-cell list and the broadcast join side from the
    // collected rows (r18 verdict #3 — the repo's computed-once
    // discipline; previously q0 was collected AND re-computed)
    val q0 = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"),
      explode(probe(normalized(col(queryVec)))).as("_cell"))
    val qRows = q0.collect()
    val probedCells = qRows.map(_.getInt(2)).distinct.sorted
    val q = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), q0.schema))
    val c = readProbedCells(spark, path, probedCells)
      .select(col("vec_id"), col("embedding"), col("_cell"))
    val scored = c.join(q, Seq("_cell"))
      .withColumn("cosine", Blob.cosineSimilarity(col("embedding"), col("_qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Scan ONLY the probed `_cell=` directories of a materialized index:
    * the paths are enumerated driver-side (so planning never LISTS the
    * unprobed directories — at production cell counts listing the whole
    * index costs more than reading the probed slice; IdxReadProbe
    * measured the 640-cell full listing dominating the pruned read) and
    * the `isin` restriction stays on top as a PartitionFilter, keeping
    * the plan's pruning explicit and the read correct even if a future
    * caller widens the path list. Probed cells with no directory are
    * empty inverted lists — skipped; if ALL are empty the scan
    * degenerates to an empty frame with the index's schema. */
  private def readProbedCells(spark: org.apache.spark.sql.SparkSession,
                              path: String, probedCells: Array[Int]): DataFrame = {
    val base = s"$path/vectors"
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
    val dirs = probedCells.map(c => s"$base/_cell=$c")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    val df =
      if (dirs.isEmpty) {
        // every probed list is empty: empty frame with the real schema
        spark.read.parquet(base).limit(0)
      } else spark.read.option("basePath", base).parquet(dirs.toIndexedSeq: _*)
    df.where(col("_cell").isin(probedCells.map(Integer.valueOf): _*))
  }

  /** Cosine of each row's (unit-norm) vector to its assigned centroid —
    * the SemDeDup keep-priority signal. Fused per-row loop (see
    * hyperplaneSignature for why not an expression tree). */
  private[graft] def centroidCos(cents: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (cell: Int, v: Seq[Double]) =>
      val row = cents(cell)
      var dot = 0.0
      var i = 0
      val n = math.min(row.length, v.length)
      while (i < n) { dot += row(i) * v(i); i += 1 }
      dot
    }

  /** SemDeDup — SEMANTIC deduplication ("SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", Abbas et al.
    * 2023, arXiv:2303.09540): the dedup granularity the lexical family
    * (exact / MinHash / SimHash / substring spans) cannot see —
    * paraphrases and re-renderings that share meaning but few n-grams.
    *
    * Shape (the paper's, distributed): k-means-cluster the embeddings
    * (the existing deterministic [[ivfCentroids]] — sampled training via
    * `trainMod` at scale), then compare pairs ONLY within a cluster;
    * any pair with cosine ≥ `threshold` drops its lower-priority side.
    * Priority = (cosine-to-centroid, then smaller id) — the
    * centroid-nearest representative survives. The survivor set is
    * τ-independent WITHIN each cluster (every ≥τ pair loses its
    * lower-priority endpoint); cross-cluster near-dups are the method's
    * accepted recall miss (the paper's too — raise nCells quality or
    * nProbe-style multi-assignment if it matters).
    *
    * Scale plan: no all-pairs — candidates come from a cell SELF-JOIN
    * with (vector, priority) carried through and the cosine verify
    * INSIDE the join (each id sits in exactly one cell, so pairs are
    * unique by construction and only the n signature rows ever cross
    * an exchange; the candidate stream is generated and filtered in
    * one codegen stage), with the same degenerate-bucket cap as the
    * LSH families: a cell larger than `maxCellSize` is excluded from
    * pair generation rather than going quadratic in one task (k-means
    * cells are size-balanced by construction, so the cap is a skew
    * fuse, not a working limit).
    * Centroid state is nCells × dim doubles — kilobytes, driver-resident.
    *
    * CELL ASSIGNMENT IS APPROXIMATE ABOVE `hierAssignFrom` CELLS: at
    * `nCells >= hierAssignFrom` (default 64) the per-row argmax switches
    * from the exact flat scan (O(nCells·dim)/row — super-linear once
    * nCells must grow with the corpus; measured, PLANS.md round-13) to
    * the two-level coarse-then-fine probe of [[assignCellHier]]
    * (O(√nCells·dim)/row, ≥95% agreement gated in MlSpec). A row the
    * probe assigns to a different cell than the flat scan can make
    * different keep decisions. Pass `hierAssignFrom = Int.MaxValue` to
    * force exact assignment at any cell count, or `0` to force the
    * probe.
    *
    * @return (idCol, cell, centroid_cos, keep) — every corpus row, with
    *         keep = 1 for survivors
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               nCells: Int = 16, threshold: Double = 0.95, iters: Int = 4,
               trainMod: Int = 1, maxCellSize: Int = 100000,
               hierAssignFrom: Int = hierAssignThreshold,
               centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    // `centroids` lets a caller inject an ALREADY-trained cell model so
    // two gates (batch + streaming twin) provably share ONE k-means run:
    // ivfCentroids is deterministic in code, but its avg() merges partial
    // aggregates in task-completion order, so two independent trainings
    // could diverge by a ULP and flip a near-threshold keep decision
    // (round-14 advice) — sharing the array removes the possibility.
    val cents = centroids.getOrElse(
      ivfCentroids(corpus, idCol, vecCol, dim, nCells, iters, trainMod,
        hierAssignFrom))
    // flat scan at gate-scale cell counts (exact, trivially cheap);
    // two-level probe once nCells grows with the corpus — the 30× probe
    // measured flat assignment going super-linear exactly because nCells
    // MUST scale to bound within-cell pairs (PLANS.md round-13 seam).
    // Seam keys on cents.length, not nCells (r18 advice): an injected
    // model must take the same path the streaming twin derives from it
    val assign = if (cents.length >= hierAssignFrom) assignCellHier(cents)
                 else assignCell(cents)
    val ccos = centroidCos(cents)
    // assignment + priority computed once; both the pair probe and the
    // verification join consume it (the LSH families' signature-table stage)
    val vecs = Checkpoint.lazily(corpus.select(col(idCol).as("_id"), normalized(col(vecCol)).as("_nv"))
      .withColumn("_cell", assign(col("_nv")))
      .withColumn("_ccos", ccos(col("_cell"), col("_nv"))))
    // Each id sits in exactly ONE cell — candidate pairs are unique by
    // construction, so the boundedBucketPairs form (pair ids →
    // dropDuplicates → two vector join-backs) paid three shuffles of
    // the FULL O(cellsize²) candidate set for nothing. Carry (vector,
    // priority) THROUGH the cell self-join and verify INSIDE it
    // instead (the hammingBandedPairs lesson): only the n signature
    // rows cross an exchange, candidates stream through the cosine
    // filter in one codegen stage. The quantized sibling measured the
    // difference (SemQProbe, SCALING r17 §5): the old shape
    // spill-OOM-DIES at 400k vectors × 160 cells where this completes.
    // Same values, same losers — the pinned gate hashes are unchanged.
    val small = vecs.groupBy("_cell").agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxCellSize).select("_cell")
    val bounded = vecs.join(broadcast(small), Seq("_cell"))
    val a = bounded.select(col("_cell"), col("_id").as("id_a"),
      col("_nv").as("_va"), col("_ccos").as("_ca"))
    val b = bounded.select(col("_cell"), col("_id").as("id_b"),
      col("_nv").as("_vb"), col("_ccos").as("_cb"))
    val losers = a.join(b, Seq("_cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("_cos", graft.functions.Blob.cosineSimilarity(col("_va"), col("_vb")))
      .filter(col("_cos") >= threshold)
      // lower priority loses: smaller centroid-cosine, ties to the larger id
      .select(when(col("_ca") < col("_cb") ||
          (col("_ca") === col("_cb") && col("id_a") > col("id_b")), col("id_a"))
        .otherwise(col("id_b")).as("_loser"))
      .distinct()
    vecs.join(losers, vecs("_id") === losers("_loser"), "left_outer")
      .select(col("_id").as(idCol), col("_cell").cast(LongType).as("cell"),
        col("_ccos").as("centroid_cos"),
        when(col("_loser").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** LSH-bucketed ANN: score only pairs sharing a bucket in >=1 of `tables`
    * hyperplane tables. Recall < 1.0 but corpus-side work drops from
    * O(|corpus| * |queries|) to O(bucket collisions). */
  /** QUANTIZED k-means — the md5-sibling pattern applied to the k-means
    * family (r16 verdict #4): float k-means cannot be bit-faithful in
    * SQL (avg() merges partial aggregates in task-completion order, so
    * two runs can differ by a ULP), which is why the float semantic
    * gates are pinned-hash rows. This variant does EVERY arithmetic
    * step in 64-bit integers, each of which replays exactly in DuckDB:
    *
    *  - quantize: q_i = floor(double(x_i) · scale + 0.5) — float→double
    *    cast is exact, the multiply/add/floor are single IEEE ops both
    *    engines execute identically;
    *  - seed: the `nCells` training rows with the smallest
    *    (md5-60-bit(id), id) — the sampleCoin replay convention;
    *  - train sample: md5-60-bit(id) % trainMod == 0;
    *  - assign: argmin of integer squared L2 (sums of 64 products,
    *    |q| ≤ 2²¹ → Σ ≤ 2⁵⁰, no overflow), ties to the LOWEST cell;
    *  - update: element-wise floor-division mean (Math.floorDiv —
    *    the oracle computes the same via (s − mod)/n); empty cells
    *    keep their centroid.
    *
    * Integer sums are associative — partial-aggregation order cannot
    * move the result — so distributed == oracle BIT-exactly, putting
    * the cell-assign + within-cell pair machinery of the semantic
    * family under a FULL oracle (llm_semdedup_q). Same distributed
    * shape as [[ivfCentroids]]: one corpus pass per iteration,
    * centroid state driver-resident kilobytes. */
  def ivfCentroidsQ(corpus: DataFrame, corpusId: String, corpusVec: String,
                    dim: Int, nCells: Int, iters: Int = 4, trainMod: Int = 1,
                    scale: Double = 1048576.0,
                    hierAssignFrom: Int = hierAssignThreshold): Array[Array[Long]] = {
    val hk = TextAnalysis.md5Long60(col(corpusId).cast(StringType))
    val base0 = corpus.select(col(corpusId).as("_id"),
      quantizeVec(col(corpusVec), scale).as("_qv"), hk.as("_hk"))
    val base = Checkpoint.now(if (trainMod > 1) // scanned once; reused every iteration
      base0.filter(pmod(col("_hk"), lit(trainMod)) === 0) else base0)
    var cents = base.orderBy(col("_hk"), col("_id")).limit(nCells)
      .select("_qv").collect().map(_.getSeq[Long](0).toArray)
    for (_ <- 0 until iters) {
      // two-level per-iteration assignment above the seam (the float
      // form's r19 note) — still every step 64-bit integer arithmetic,
      // so the DuckDB replay (oQKmeansCellsHier) stays bit-exact
      val assign = if (cents.length >= hierAssignFrom) assignCellHierQ(cents)
                   else assignCellQ(cents)
      val sums = base.groupBy(assign(col("_qv")).as("_cell"))
        .agg(count(lit(1)).as("_n"),
          array((0 until dim).map(i => sum(col("_qv").getItem(i))): _*).as("_s"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Long](2).toArray))).toMap
      cents = cents.indices.map { c =>
        sums.get(c).map { case (n, s) => s.map(x => Math.floorDiv(x, n)) }
          .getOrElse(cents(c)) // empty cell keeps its centroid
      }.toArray
    }
    Checkpoint.release(base)
    cents
  }

  /** floor(double(x)·scale + 0.5) per component — codegen'd, exact. */
  private[graft] def quantizeVec(vec: Column, scale: Double): Column =
    transform(vec.cast(ArrayType(DoubleType)), x =>
      floor(x * lit(scale) + lit(0.5)).cast(LongType))

  /** argmin-of-integer-squared-L2 cell assignment (ties → lowest cell);
    * one fused loop, the [[assignCell]] shape in Long arithmetic. */
  private[graft] def assignCellQ(cents: Array[Array[Long]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Long]) =>
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0L
        var i = 0
        val row = cents(c)
        val n = math.min(row.length, v.length)
        while (i < n) { val t = row(i) - v(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** Two-level (coarse-then-fine) QUANTIZED cell assignment —
    * [[assignCellHier]]'s integer sibling, same trade: the k integer
    * centroids are clustered driver-side (integer Lloyd's, floor-div
    * means, deterministic every-g-th seed) into ~√k coarse groups; each
    * row scans the √k coarse centroids by squared L2, probes the
    * `nProbeCoarse` nearest groups, and argmins only their children
    * (ties → lowest global cell, the flat rule). Approximate exactly
    * like the float form (the true argmin can live in an unprobed
    * group) — the FULL-oracle gates run 16 cells and never reach it;
    * MlSpec gates ≥95% agreement with the flat scan. Falls back to the
    * flat scan if every probed group is empty. */
  private[graft] def sqDistQ(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** The COARSE model [[assignCellHierQ]] probes, exposed so the DuckDB
    * replay (llm_semdedup_hq's oracle re-derives it as chained integer
    * CTEs) and MlSpec can cross-check the exact same arithmetic:
    * driver-side integer Lloyd's over the k fine centroids —
    * deterministic every-(k/g)-th seed, 4 rounds of (argmin squared-L2
    * assignment, ties → lowest group; floor-div means, empty group
    * keeps its coarse). Returns (coarse AFTER the final update, groupOf
    * from the final assignment round) — exactly the pair the per-row
    * probe consumes. All 64-bit integer arithmetic: two engines replay
    * it bit-exactly. */
  private[graft] def hierModelQ(cents: Array[Array[Long]])
      : (Array[Array[Long]], Array[Int]) = {
    val k = cents.length
    val dim = if (k > 0) cents(0).length else 0
    val g = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    var coarse = Array.tabulate(g)(j => cents(j * k / g))
    val groupOf = new Array[Int](k)
    for (_ <- 0 until 4) {
      var c = 0
      while (c < k) {
        var best = 0
        var bd = Long.MaxValue
        var j = 0
        while (j < g) {
          val d = sqDistQ(coarse(j), cents(c)); if (d < bd) { bd = d; best = j }; j += 1
        }
        groupOf(c) = best; c += 1
      }
      coarse = Array.tabulate(g) { j =>
        val members = (0 until k).filter(groupOf(_) == j)
        if (members.isEmpty) coarse(j)
        else Array.tabulate(dim)(i =>
          Math.floorDiv(members.map(cents(_)(i)).sum, members.size.toLong))
      }
    }
    (coarse, groupOf)
  }

  private[graft] def assignCellHierQ(cents: Array[Array[Long]], nProbeCoarse: Int = 2)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val k = cents.length
    val g = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    // local twin of sqDistQ: the UDF closure must not capture the
    // (non-serializable) Similarity object just to reach a 6-line loop
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val (coarse, groupOf) = hierModelQ(cents)
    val children: Array[Array[Int]] =
      (0 until g).map(j => (0 until k).filter(groupOf(_) == j).toArray).toArray
    val coarseF = coarse
    udf { (v: Seq[Long]) =>
      val vv = v.toArray
      val order = Array.tabulate(g)(j => (d2(coarseF(j), vv), j)).sorted
      var best = -1
      var bestD = Long.MaxValue
      var p = 0
      while (p < math.min(nProbeCoarse, g)) {
        val kids = children(order(p)._2)
        var ci = 0
        while (ci < kids.length) {
          val c = kids(ci)
          val d = d2(cents(c), vv)
          if (d < bestD || (d == bestD && (best == -1 || c < best))) { bestD = d; best = c }
          ci += 1
        }
        p += 1
      }
      if (best >= 0) best
      else {
        // every probed group empty — exact flat fallback. Reachability
        // note (r18 analysis): an empty group keeps a STALE coarse. In
        // any round before the last, a group stuck at value P re-absorbs
        // the seed cell that equals P (distance 0, lowest-j tie), so a
        // probed-first empty group implies a nonempty lower-j twin at
        // the same coarse value — probed BEFORE it. The branch is
        // therefore reachable ONLY when a group loses all members in
        // the FINAL assignment round after its coarse moved (its stale
        // g4-coarse can then be nearest to a probe vector with no
        // children behind it). No gate or probe corpus produces that
        // shape; the DuckDB replay's fb CTE mirrors this rule exactly,
        // so even the unreached branch cannot diverge between engines.
        // (The float assignCellHier takes the same exact flat fallback
        // — unified r19, previously it returned cell 0 here.)
        var c = 0
        var b = 0
        var bd = Long.MaxValue
        while (c < k) { val d = d2(cents(c), vv); if (d < bd) { bd = d; b = c }; c += 1 }
        b
      }
    }
  }

  /** Integer centroid-dot priority — [[semDedupQ]]'s keep-priority
    * signal (higher survives; the centroid_cos rule in exactly
    * replayable arithmetic). ONE definition shared by the batch
    * operator, the streaming twin's assignment stage and the
    * split-fixture ranking so the rule cannot drift between them. */
  private[graft] def cellPriorityQ(cents: Array[Array[Long]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (cell: Int, v: Seq[Long]) =>
      var d = 0L
      var i = 0
      val row = cents(cell)
      val n = math.min(row.length, v.length)
      while (i < n) { d += row(i) * v(i); i += 1 }
      d
    }

  /** [[semDedup]]'s integer sibling over [[ivfCentroidsQ]] cells: keep
    * one survivor per quantized near-dup pair (squared L2 ≤ `threshold`
    * micro-units²) within a cell, the loser being the vector with the
    * smaller integer centroid-dot (ties to the larger id) — the
    * centroid_cos priority rule in exactly-replayable arithmetic.
    * Same plan as [[semDedup]]: one signature table localCheckpoint'ed,
    * payload-carrying cell self-join, verify INSIDE the pair join.
    * @return (idCol, cell, priority, keep) */
  def semDedupQ(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
                nCells: Int = 16, threshold: Long, iters: Int = 4,
                trainMod: Int = 1, maxCellSize: Int = 100000,
                scale: Double = 1048576.0,
                hierAssignFrom: Int = hierAssignThreshold,
                centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      ivfCentroidsQ(corpus, idCol, vecCol, dim, nCells, iters, trainMod, scale,
        hierAssignFrom))
    // flat (exact, oracle-replayed) at gate-scale cell counts; the
    // two-level probe once nCells grows with the corpus — same seam and
    // same default as the float form; keyed on cents.length (r18 advice)
    val assign = if (cents.length >= hierAssignFrom) assignCellHierQ(cents)
                 else assignCellQ(cents)
    val prio = cellPriorityQ(cents)
    val vecs = Checkpoint.lazily(corpus.select(col(idCol).as("_id"),
        quantizeVec(col(vecCol), scale).as("_qv"))
      .withColumn("_cell", assign(col("_qv")))
      .withColumn("_prio", prio(col("_cell"), col("_qv"))))
    // Each id sits in exactly ONE cell, so candidate pairs are unique by
    // construction — no pair dedup exists to pay for. Carry (vector,
    // priority) THROUGH the cell self-join and verify INSIDE it (the
    // hammingBandedPairs lesson): only the n signature rows ever cross
    // an exchange, and the O(cellsize²) candidate stream is generated,
    // distance-filtered and reduced to losers inside one codegen stage.
    // The boundedBucketPairs form (pair ids → dropDuplicates → two
    // vector join-backs) shuffles the FULL candidate set three times —
    // measured (SemQProbe, SCALING r17 §5): 1.6× slower at 4k vectors
    // and spill-OOM DEATH at 400k × 160 cells, where this form
    // completes in 359 s (100 s with corpus-scaled 640 cells).
    // Cell-size cap via the same groupBy+count (nCells result rows —
    // broadcast), boundedBucketPairs' skew rationale unchanged.
    val small = vecs.groupBy("_cell").agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxCellSize).select("_cell")
    val bounded = vecs.join(broadcast(small), Seq("_cell"))
    val a = bounded.select(col("_cell"), col("_id").as("id_a"),
      col("_qv").as("_va"), col("_prio").as("_pa"))
    val b = bounded.select(col("_cell"), col("_id").as("id_b"),
      col("_qv").as("_vb"), col("_prio").as("_pb"))
    val losers = a.join(b, Seq("_cell"))
      .filter(col("id_a") < col("id_b"))
      // integer squared L2 inside codegen (zip_with + aggregate): exact,
      // associative, no UDF in the pair hot path
      .withColumn("_d2", aggregate(
        zip_with(col("_va"), col("_vb"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
      .filter(col("_d2") <= threshold)
      .select(when(col("_pa") < col("_pb") ||
          (col("_pa") === col("_pb") && col("id_a") > col("id_b")), col("id_a"))
        .otherwise(col("id_b")).as("_loser"))
      .distinct()
    vecs.join(losers, vecs("_id") === losers("_loser"), "left_outer")
      .select(col("_id").as(idCol), col("_cell").cast(LongType).as("cell"),
        col("_prio").as("priority"),
        when(col("_loser").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** nProbe nearest cells by integer squared L2 (ties → lower cell) —
    * [[probeCells]]' quantized sibling, same fused-loop shape. */
  private def probeCellsQ(cents: Array[Array[Long]], nProbe: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Long]) =>
      cents.indices.map { c =>
        var d = 0L
        var i = 0
        val row = cents(c)
        val n = math.min(row.length, v.length)
        while (i < n) { val t = row(i) - v(i); d += t * t; i += 1 }
        (d, c)
      }.sorted.take(nProbe).map(_._2)
    }

  /** [[ivfTopK]]'s integer sibling over [[ivfCentroidsQ]] cells: probe
    * the `nProbe` integer-nearest lists per query, score candidates by
    * integer SQUARED L2 of the quantized vectors (codegen'd zip_with +
    * aggregate — exact, associative), rank (dist2 ASC, vec_id) —
    * nearest-neighbor in the SAME metric the cells partition by, so
    * probing and ranking agree (a dot-scored variant measured recall
    * 2/5: dot favors long vectors that L2 cells scatter). Every step
    * replays in DuckDB bit-exactly, putting the IVF
    * assign→probe→score→rank machinery under a FULL oracle
    * (llm_ann_ivf_q). Same 100 TB shape as [[ivfTopK]]: corpus scanned
    * once to tag cells, queries broadcast, candidate join
    * corpus-side-narrow. */
  def ivfTopKQ(corpus: DataFrame, corpusId: String, corpusVec: String, dim: Int,
               queries: DataFrame, queryId: String, queryVec: String,
               k: Int, nCells: Int = 16, nProbe: Int = 4, iters: Int = 4,
               trainMod: Int = 1, scale: Double = 1048576.0,
               hierAssignFrom: Int = hierAssignThreshold,
               centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroidsQ(corpus, corpusId, corpusVec,
      dim, nCells, iters, trainMod, scale, hierAssignFrom))
    // BEHAVIOR NOTE (r18): corpus-side cell TAGGING takes the two-level
    // probe at nCells >= hierAssignFrom (default 64), exactly like
    // semDedupQ — corpus rows are O(corpus), so per-row assignment cost
    // is the scale term. Tagging is then APPROXIMATE (a vector whose
    // true nearest cell lives in an unprobed coarse group lands in a
    // different inverted list — the IVF nProbe recall trade, one level
    // up); callers wanting exact flat tagging at any cell count pass
    // hierAssignFrom = Int.MaxValue. The QUERY-side probe list stays a
    // flat scan — queries are few by contract (they broadcast), so
    // O(nCells·dim) per query is noise. `centroids` injects an
    // already-trained model (semDedupQ's convention) so probes can
    // time tagging apart from training. Seam keyed on cents.length
    // (r18 advice: injected models follow their own size).
    val assign = if (cents.length >= hierAssignFrom) assignCellHierQ(cents)
                 else assignCellQ(cents)
    val probe = probeCellsQ(cents, nProbe)
    val c = corpus.select(col(corpusId).as("vec_id"),
        quantizeVec(col(corpusVec), scale).as("_cv"))
      .withColumn("_cell", assign(col("_cv")))
    val q = broadcast(queries
      .select(col(queryId).as("query_id"), quantizeVec(col(queryVec), scale).as("_qv"))
      .withColumn("_cell", explode(probe(col("_qv")))))
    val scored = c.join(q, Seq("_cell"))
      .withColumn("dist2", aggregate(
        zip_with(col("_cv"), col("_qv"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dist2", "rank")
  }

  /** [[ivfWriteIndex]]'s integer sibling — THE 100 TB layout in the
    * exactly-replayable arithmetic: the corpus tagged by the QUANTIZED
    * cell model (two-level probe at ≥ `hierAssignFrom` cells, the
    * ivfTopKQ seam) and written `partitionBy` its inverted-list cell,
    * plus an integer centroid sidecar (one line per centroid,
    * comma-joined longs — exact round-trip). Probes then prune at the
    * SCAN: the `_cell=` directories outside the probe list are never
    * read. `centroids` injects an already-trained model (the semDedupQ
    * convention). Returns the centroids (kilobytes). */
  def ivfWriteIndexQ(corpus: DataFrame, corpusId: String, corpusVec: String,
                     dim: Int, path: String, nCells: Int = 16, iters: Int = 4,
                     trainMod: Int = 1, scale: Double = 1048576.0,
                     hierAssignFrom: Int = hierAssignThreshold,
                     centroids: Option[Array[Array[Long]]] = None): Array[Array[Long]] = {
    val cents = centroids.getOrElse(ivfCentroidsQ(corpus, corpusId, corpusVec,
      dim, nCells, iters, trainMod, scale, hierAssignFrom))
    val assign = if (cents.length >= hierAssignFrom) assignCellHierQ(cents)
                 else assignCellQ(cents)
    corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("embedding"),
        assign(quantizeVec(col(corpusVec), scale)).as("_cell"))
      .repartition(col("_cell")) // one file per cell dir — see the float form
      .write.mode("overwrite").partitionBy("_cell")
      .parquet(s"$path/vectors")
    writeCentroidSidecarQ(path, cents)
    cents
  }

  /** The integer centroid sidecar (one line per centroid, comma-joined
    * longs — exact round-trip), factored out so the STREAMING index
    * build (a `writeStream.partitionBy(_cell)` append of row-locally
    * tagged vectors — the standing-index-kept-fresh-by-ingest
    * topology) can produce a layout [[ivfTopKIndexedQ]] reads
    * identically to the batch-built one. */
  private[graft] def writeCentroidSidecarQ(path: String,
                                           cents: Array[Array[Long]]): Unit = {
    val text = cents.map(_.mkString(",")).mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "centroids_q.txt"),
      text.getBytes("UTF-8")): Unit
  }

  /** COMPACT a materialized IVF index into `dstPath`: the same rows
    * rewritten one-file-per-cell (the [[ivfWriteIndexQ]] write rule),
    * plus the centroid sidecar copied verbatim. The maintenance
    * operation a STREAM-built index needs: the parquet streaming sink
    * appends one fragment per (micro-batch × cell), so a long-running
    * ingest accumulates small files that tax the pruned read
    * (IdxReadProbe measured listing dominating at ~20k fragments);
    * periodic compaction restores the one-file-per-cell layout without
    * touching values. Reads the full index once, shuffles once on
    * `_cell` — the index build's own cost, amortized over the ingest
    * period. */
  def ivfCompactIndex(spark: org.apache.spark.sql.SparkSession,
                      srcPath: String, dstPath: String): Unit = {
    spark.read.parquet(s"$srcPath/vectors")
      .repartition(col("_cell"))
      .write.mode("overwrite").partitionBy("_cell")
      .parquet(s"$dstPath/vectors")
    val src = java.nio.file.Paths.get(srcPath)
    val it = java.nio.file.Files.list(src)
    try it.forEach { f =>
      val name = f.getFileName.toString
      if (name.startsWith("centroids") && name.endsWith(".txt"))
        java.nio.file.Files.copy(f,
          java.nio.file.Paths.get(dstPath, name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } finally it.close()
  }

  /** [[ivfTopKIndexed]]'s integer sibling over an [[ivfWriteIndexQ]]
    * index: the (small, broadcastable) query set resolves its probe
    * cells DRIVER-side from the integer sidecar, the scan reads ONLY
    * those `_cell=` partitions (static partition pruning —
    * PartitionFilters in the plan), candidates score by integer
    * squared L2 and rank (dist2 ASC, vec_id) — IDENTICAL output to
    * [[ivfTopKQ]] for the same centroids (MlSpec pins the equality),
    * which is what lets llm_ann_ivf_idx_q share ivfTopKQ's FULL DuckDB
    * oracle while exercising the partition-pruned physical layout the
    * 100 TB deployment actually reads. */
  def ivfTopKIndexedQ(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      k: Int, nProbe: Int = 4,
                      scale: Double = 1048576.0): DataFrame = {
    val cents = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, "centroids_q.txt")), "UTF-8")
      .split("\n").map(_.split(",").map(java.lang.Long.parseLong))
    val probe = probeCellsQ(cents, nProbe)
    // evaluate the probe UDF ONCE: collect the exploded query rows and
    // rebuild both consumers from them (the float twin's r19 fix)
    val q0 = queries.select(col(queryId).as("query_id"),
        quantizeVec(col(queryVec), scale).as("_qv"))
      .withColumn("_cell", explode(probe(col("_qv"))))
    val qRows = q0.collect()
    val probedCells = qRows.map(_.getInt(2)).distinct.sorted
    val q = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), q0.schema))
    val c = readProbedCells(spark, path, probedCells)
      .select(col("vec_id"), quantizeVec(col("embedding"), scale).as("_cv"),
        col("_cell"))
    val scored = c.join(q, Seq("_cell"))
      .withColumn("dist2", aggregate(
        zip_with(col("_cv"), col("_qv"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dist2", "rank")
  }

  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String, dim: Int,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, planesPerTable: Int = 10, tables: Int = 6,
              seed: Long = 42L): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String, idAs: String, vecAs: String) = {
      val sigs = (0 until tables).map(t =>
        hyperplaneSignature(col(vec), dim, planesPerTable, seed + t))
      df.select(col(id).as(idAs), col(vec).as(vecAs),
        posexplode(array(sigs: _*)).as(Seq("_tbl", "_sig")))
    }
    val c = withBuckets(corpus, corpusId, corpusVec, "vec_id", "_cv")
    val q = broadcast(withBuckets(queries, queryId, queryVec, "query_id", "_qv"))
    val scored = c.join(q, Seq("_tbl", "_sig"))
      .dropDuplicates("query_id", "vec_id")
      // rank on the ROUNDED cosine (the llm_dsir convention): last-ulp
      // engine differences must not flip a rank decision, so external
      // replays (the llm_ann_lsh DuckDB oracle) order bit-identically
      .withColumn("cosine", round(Blob.cosineSimilarity(col("_cv"), col("_qv")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }
}
