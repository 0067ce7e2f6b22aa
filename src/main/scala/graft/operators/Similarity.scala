package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Catalog
import graft.expressions.VectorFunctions.{cosine_sim, dot_product}

/** Similarity search over the `embeddings` fixture (builder prompt
  * north-star): brute-force cosine top-k as the exactness baseline, a
  * random-hyperplane LSH bucketing as the 100 TB scale path, and exact
  * high-cosine pair mining.
  *
  * The cosine kernel is a custom codegen'd Catalyst expression
  * ([[graft.expressions.CosineSimilarity]]) — the whole scoring loop stays
  * inside WholeStageCodegen instead of interpreted higher-order functions.
  */
object Similarity {

  val TopK = 10
  val NQueries = 5
  val PairThreshold = 0.4

  // ---------------------------------------------------------------------
  // N1 — brute-force ANN: the NQueries lowest vec_ids are the query set;
  // each scores against every other vector (broadcast queries × scan — one
  // pass over the corpus, no shuffle until the per-query top-k), top-10 by
  // cosine. Ties break on candidate id; scores rounded to 6 dp so both
  // engines rank identically.
  // ---------------------------------------------------------------------
  /** Embeddings with zero-norm vectors excluded on BOTH engines: the JVM
    * kernel defines cosine against a zero vector as 0.0 while DuckDB's
    * list_cosine_similarity yields NaN (which DuckDB sorts ABOVE all
    * numbers), so a zero vector would rank first in the oracle's top-k and
    * nowhere in ours. Zero vectors carry no direction — exclude them from
    * similarity search outright. dot_product(e,e) is the codegen'd squared
    * norm; the oracle mirrors with list_inner_product.
    */
  private[graft] def nonZeroEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Catalog.embeddings(spark, dir)
      .filter(dot_product(col("embedding"), col("embedding")) > 0)

  private val nonZeroSql =
    "list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"

  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    topKAgainst(e,
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
  }

  val annBruteForceSql: String =
    s"""WITH nz AS (SELECT * FROM embeddings WHERE $nonZeroSql)
       |SELECT query_id, vec_id, cosine, rank FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |  round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS rank
       | FROM nz q JOIN nz c ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id) t
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // N2 — exact high-cosine pair mining (embedding near-dup dedup): all
  // pairs with cosine ≥ 0.4. Block-nested self-join; the codegen'd kernel
  // makes the O(n²/2) scoring CPU-bound rather than interpreter-bound.
  // A norm-profile prune runs inside the join condition: cosine(a,b) ≤
  // cosine(blockNorms(a), blockNorms(b)) (Cauchy-Schwarz per block), so an
  // 8-dim bound evaluation skips the 64-dim kernel for pairs that provably
  // can't reach the threshold — identical output, fewer full-dim kernel
  // evaluations. (The LSH path below is the subquadratic variant.)
  // ---------------------------------------------------------------------
  val PruneBlocks = 8
  /** Bound slack: the final filter compares the 6-dp ROUNDED cosine, and
    * the float-typed profile norms carry ulp-level error — prune at
    * threshold − 1e-3 so no borderline survivor is ever lost.
    */
  private val PruneMargin = 1e-3

  /** Input-size opt-in for the registered n2 entry: generous at gate
    * scales (sf0.1 is ~10⁴ vectors), three orders of magnitude below
    * anything 100 TB-shaped — a production corpus pointed here by
    * accident fails fast instead of launching an O(n²) job (round-6
    * verdict item 6).
    */
  val CosinePairsMaxRows = 1000000L

  def cosinePairs(spark: SparkSession, dir: String): DataFrame =
    cosinePairsExhaustive(CosinePairsMaxRows)(spark, dir)

  /** The labeled O(n²)-by-design exactness baseline behind an EXPLICIT
    * row bound: callers state the scale they accept, and the guard
    * (one footer-only count) refuses a corpus beyond it. Production pair
    * mining is [[lshCandidatePairs]] / z2.
    */
  def cosinePairsExhaustive(maxRows: Long)(
      spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.VectorFunctions.block_norms
    // guard on the RAW table count — answered from parquet footers alone
    // (no column decode, no kernel pass). It upper-bounds the zero-norm-
    // filtered input, so the refusal is conservative and the guard adds
    // no scan to the accepted path.
    val n = Catalog.embeddings(spark, dir).count()
    require(n <= maxRows,
      s"n2_cosine_pairs is the quadratic exactness baseline: the table " +
        s"holds $n rows (an upper bound on its non-zero input vectors), " +
        s"exceeding the explicit maxRows = $maxRows opt-in; use the " +
        "LSH-banded pair mining (lshCandidatePairs / z2) at corpus scale")
    val e = nonZeroEmbeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        block_norms(col("embedding"), PruneBlocks).as("bn"))
    // the left side drives the O(n²/2) kernel loop and the embeddings
    // fixture is one small file (one scan task → one core doing the whole
    // quadratic verify, measured 3.1 s single-task at sf0.1); Q.spread
    // floors its parallelism at the session default — a no-op once the
    // corpus scan has that many natural splits. The right side broadcasts.
    val a = Q.spread(e.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("bn").as("bna")))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("bn").as("bnb"))
    // tinySort, not orderBy: a range sort's boundary-sampling pass would
    // re-execute the quadratic verify join once more (see Q.tinySort)
    Q.tinySort(
      a.join(b, col("va") < col("vb") &&
          cosine_sim(col("bna"), col("bnb")) >= PairThreshold - PruneMargin)
        .select(col("va"), col("vb"),
          round(cosine_sim(col("ea"), col("eb")), 6).as("cosine"))
        .filter(col("cosine") >= PairThreshold),
      col("va"), col("vb"))
  }

  val cosinePairsSql: String =
    s"""WITH nz AS (SELECT * FROM embeddings WHERE $nonZeroSql)
       |SELECT va, vb, cosine FROM (
       | SELECT a.vec_id AS va, b.vec_id AS vb,
       |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
       | FROM nz a JOIN nz b ON a.vec_id < b.vec_id) t
       |WHERE cosine >= $PairThreshold ORDER BY va, vb""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // N3 — LSH-bucketed ANN (the scale path): 32 deterministic pseudo-random
  // hyperplanes grouped AND-OR style into 8 bands × 4 planes (the classic
  // amplification construction); a vector is a candidate for a query iff
  // any band signature matches. Approximate vs N1 (recall pinned in the
  // test suite) yet EXACTLY oracle-checked: the planes are an LCG, so the
  // SQL oracle regenerates the identical band relation (annLshSql). At
  // 100 TB each band join probes a 1/16th bucket on average instead of
  // scanning the corpus.
  // ---------------------------------------------------------------------
  val LshPlanes = 32
  val LshBands = 8
  val PlanesPerBand: Int = LshPlanes / LshBands // 4 → 16 buckets per band
  val Dim = 64

  /** Deterministic hyperplane component p,d — an LCG over (p*Dim + d),
    * centered to [-0.5, 0.5). Same arithmetic on every executor, no
    * broadcast of random state needed.
    */
  private def planeComponent(p: Int, d: Int): Float = {
    val x = (1103515245L * (p * Dim + d) + 12345L) & 0x7fffffffL
    (x.toDouble / 0x80000000L.toDouble - 0.5).toFloat
  }

  /** Band-key columns for an arbitrary AND-OR amplification scheme: bands
    * of `planesPerBand` sign bits, planes drawn from [[planeComponent]]'s
    * LCG starting at `planeOffset`. More planes per band = harder pruning
    * + lower recall for non-colinear pairs (pick per threshold regime).
    */
  private def bandKeyColumns(nBands: Int, planesPerBand: Int,
      planeOffset: Int): Seq[org.apache.spark.sql.Column] =
    (0 until nBands).map { b =>
      val bits = (0 until planesPerBand).map { r =>
        val plane = (0 until Dim).map(d =>
          planeComponent(planeOffset + b * planesPerBand + r, d))
        when(dot_product(col("embedding"), typedLit(plane)) >= 0, 1L << r)
          .otherwise(0L)
      }
      concat_ws(":", lit(b), bits.reduce(_ + _))
    }

  /** One row per (vector, band) with the band's bit-signature — the LSH
    * index relation a 100 TB pipeline would persist, bucketed by band key.
    */
  def lshBandsOf(e: DataFrame, nBands: Int = LshBands,
      planesPerBand: Int = PlanesPerBand, planeOffset: Int = 0): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      explode(array(bandKeyColumns(nBands, planesPerBand, planeOffset): _*)).as("band"))

  def lshBands(spark: SparkSession, dir: String): DataFrame =
    lshBandsOf(nonZeroEmbeddings(spark, dir))

  /** Distinct candidate id-pairs whose band signatures collide — the
    * sub-quadratic all-pairs candidate miner (z2's scale path; round-4
    * verdict item #1). Only (vec_id, band) enters the self-join and only
    * 16-byte id pairs enter the dedup shuffle; embeddings re-attach to the
    * (small) candidate relation afterwards. More bands × fewer planes than
    * the ANN config: at cosine = [[PairThreshold]] (0.4) a 2-plane band
    * collides with p ≈ 0.631² ≈ 0.40, so 16 bands miss a threshold pair
    * with p ≈ (1−0.40)¹⁶ ≈ 3e-4 — and the whole construction is
    * deterministic (LCG planes), so the SQL oracle regenerates the exact
    * candidate set and the gate stays hash-exact regardless of recall.
    */
  def lshCandidatePairs(e: DataFrame, nBands: Int, planesPerBand: Int): DataFrame = {
    val bands = lshBandsOf(e, nBands, planesPerBand)
      .select(col("vec_id"), col("band"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
  }

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val bands = lshBands(spark, dir)
    val queriesDf = broadcast(
      lshBands(spark, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("band")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    // distinct over bare id pairs (a pair may collide in several bands) —
    // the embedding arrays are re-attached afterwards so the dedup shuffle
    // moves 16 bytes per pair, not 2×64 floats
    val pairs = bands.join(queriesDf,
        bands("band") === queriesDf("band") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val e = nonZeroEmbeddings(spark, dir)
    pairs
      .join(broadcast(e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        "query_id")
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("embedding")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // N4 — IVF-style ANN (the other scale path): NCentroids deterministic
  // pseudo-random centroids act as a coarse quantizer; every vector is
  // assigned to its argmax-dot centroid (the inverted list it would be
  // stored under at 100 TB), and a query probes its NProbe best centroids.
  // Approximate vs N1 (recall pinned in the test suite); exactly
  // hash-checked at the gate via annIvfSql's regenerated centroids.
  // ---------------------------------------------------------------------
  // On the clusterless (uniform-noise) fixture embeddings, IVF recall is
  // bounded by the probed corpus fraction (NProbe/NCentroids); real
  // embedding spaces cluster and recall concentrates accordingly.
  val NCentroids = 16
  val NProbe = 6

  private def centroidComponent(c: Int, d: Int): Float = {
    val x = (22695477L * (c * Dim + d + 7919) + 1L) & 0x7fffffffL
    (x.toDouble / 0x80000000L.toDouble - 0.5).toFloat
  }

  private[operators] lazy val centroids: Seq[Seq[Float]] =
    (0 until NCentroids).map(c => (0 until Dim).map(d => centroidComponent(c, d)))

  /** Top-n centroid ids by dot product, as an array column. Each dot is
    * computed exactly once into a struct array, then sorted — an argmax
    * fold of `when` chains would duplicate every prior dot subtree and grow
    * the expression exponentially (≈3^NCentroids nodes).
    */
  private def topCentroidsOf(ctrs: Seq[Seq[Float]])(
      v: org.apache.spark.sql.Column, n: Int) = {
    val dots = array(ctrs.zipWithIndex.map { case (ctr, i) =>
      struct(dot_product(v, typedLit(ctr)).as("d"), lit(i).as("c"))
    }: _*)
    slice(reverse(array_sort(dots)), 1, n).getField("c")
  }

  /** Argmax-dot centroid id (ties → highest id, deterministic). */
  private[operators] def assignColumnOf(ctrs: Seq[Seq[Float]])(v: org.apache.spark.sql.Column) =
    element_at(topCentroidsOf(ctrs)(v, 1), 1)

  /** IVF probe join for an arbitrary coarse quantizer. Zero-norm vectors
    * are excluded like every similarity operator (see [[nonZeroEmbeddings]]):
    * they have no direction, and the JVM-0.0-vs-DuckDB-NaN cosine mismatch
    * would otherwise rank them FIRST in the oracle's top-k the moment one
    * enters a candidate list (ADVICE r4).
    */
  private def annIvfWith(ctrs: Seq[Seq[Float]])(
      spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    val lists = e.select(col("vec_id"), col("embedding"),
      assignColumnOf(ctrs)(col("embedding")).as("centroid"))
    val queries = broadcast(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          explode(topCentroidsOf(ctrs)(col("embedding"), NProbe)).as("centroid")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    lists.join(queries,
        lists("centroid") === queries("centroid") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("embedding")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(centroids)(spark, dir)

  // ---------------------------------------------------------------------
  // N5 — IVF with a FITTED coarse quantizer: deterministic spherical
  // k-means (Lloyd's), the real-pipeline replacement for N4's synthetic
  // centroids. Init = the k lowest-vec_id vectors (deterministic,
  // data-dependent); each iteration assigns by argmax dot (the same rule
  // the probe uses) and recenters on the member mean, L2-normalized.
  // Per-iteration cost: one scan + one partial-agged shuffle of
  // (centroid, dim) groups — k·Dim cells, independent of corpus size.
  // Centroid components round to 6 dp per iteration so shuffle-order
  // summation ULPs can't make the fit nondeterministic across runs.
  // ---------------------------------------------------------------------
  val KmeansIters = 3

  def fitIvfCentroids(spark: SparkSession, dir: String,
      k: Int = NCentroids, iters: Int = KmeansIters): Seq[Seq[Float]] = {
    // fit over the same zero-norm-filtered relation the probe uses — a zero
    // vector in the seed set would normalize to itself and freeze a centroid
    val e = nonZeroEmbeddings(spark, dir).select(col("vec_id"), col("embedding"))
    def normalize(v: Array[Double]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      val scale = if (n == 0.0) 1.0 else n
      // 6-dp grid: deterministic under summation-order ULP noise. Rounds
      // half-AWAY-from-zero (like DuckDB's round(), which the oracle uses)
      // rather than rint's half-even, so the SQL-unrolled fit can never
      // diverge on a midpoint value.
      v.map { x =>
        val y = x / scale * 1e6
        (math.floor(math.abs(y) + 0.5) * math.signum(y)).toFloat / 1e6f
      }.toSeq
    }
    var ctrs: Seq[Seq[Float]] = e.orderBy(col("vec_id")).limit(k).collect()
      .map(r => normalize(r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    // corpora with fewer than k vectors (including empty partitions) pad
    // with synthetic LCG centroids so the fit never yields < k centroids —
    // generated per index, so any k works, not just k <= NCentroids
    if (ctrs.size < k)
      ctrs = ctrs ++ (ctrs.size until k).map(c =>
        normalize((0 until Dim).map(d => centroidComponent(c, d).toDouble).toArray))
    var it = 0
    while (it < iters) {
      val assigned = e.select(
        assignColumnOf(ctrs)(col("embedding")).as("centroid"),
        col("embedding"))
      val sums = assigned
        .select(col("centroid"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("centroid"), col("d"))
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = Array.fill(k)(new Array[Double](Dim))
      // explicit membership: a cluster is empty iff NO (centroid, dim) row
      // exists for it — `next(i).forall(_ == 0.0)` would conflate that with
      // "member mean is exactly zero in every dim", which the oracle's
      // LEFT JOIN (mv.c IS NULL) does NOT treat as empty (ADVICE r4)
      val hasMembers = new Array[Boolean](k)
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        hasMembers(r.getInt(0)) = true
      }
      // empty clusters keep their previous centroid (stable, deterministic)
      ctrs = ctrs.zipWithIndex.map { case (old, i) =>
        if (!hasMembers(i)) old else normalize(next(i))
      }
      it += 1
    }
    ctrs
  }

  /** The fitted quantizer persisted like every other build-once artifact
    * (k·Dim floats in [[graft.Scratch]]): a real pipeline fits its coarse
    * quantizer once per corpus and every query (and every executor) loads
    * the same centroids — re-running Lloyd iterations per query would be
    * index-build work on the query path. Version tag pins (k, iters, Dim,
    * rounding grid) so a parameter change refits.
    */
  def fittedCentroids(spark: SparkSession, dir: String,
      k: Int = NCentroids, iters: Int = KmeansIters): Seq[Seq[Float]] = {
    import spark.implicits._
    val idx = graft.Scratch.materialize(spark, "ivf_centroids",
      s"k$k-it$iters-dim$Dim-6dp-v1", dir) { staging =>
      fitIvfCentroids(spark, dir, k, iters).zipWithIndex
        .flatMap { case (c, i) => c.zipWithIndex.map { case (x, d) => (i, d, x) } }
        .toDF("c", "d", "x").coalesce(1).write.parquet(staging)
    }
    val arr = Array.fill(k)(new Array[Float](Dim))
    graft.Catalog.read(spark, idx).collect()
      .foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getFloat(2))
    arr.map(_.toSeq).toSeq
  }

  /** z2's verified embedding near-dup pair relation, PERSISTED via
    * [[graft.Scratch]] (the embedding-side sibling of `neardup_pairs`):
    * LSH-band candidates + exact-cosine verify is mining work that
    * depends only on (embedding content, band scheme, threshold) — at
    * 100 TB it is built once and every dedup view reads it, not re-mined
    * per query. The version nests the amplification scheme, the
    * threshold, and the LCG plane family ("lcg1": [[planeComponent]]'s
    * constants + [[Dim]]).
    */
  private[operators] def embPairsIndexed(spark: SparkSession, dir: String,
      nBands: Int, planesPerBand: Int): DataFrame = {
    val version = s"b$nBands-p$planesPerBand-" +
      s"t${(PairThreshold * 100).toInt}-lcg1-dim$Dim"
    val idx = graft.Scratch.materialize(spark, "emb_pairs", version, dir)(
      staging => {
        val e = nonZeroEmbeddings(spark, dir)
        lshCandidatePairs(e, nBands, planesPerBand)
          .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
          .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
          .select(col("va"), col("vb"),
            round(cosine_sim(col("ea"), col("eb")), 6).as("cosine"))
          .filter(col("cosine") >= PairThreshold)
          .write.parquet(staging)
      })
    graft.Catalog.read(spark, idx)
  }

  /** Bench-warmup hook (the n5 sibling of [[Dedup.prewarmIndexes]]). */
  def prewarmIndexes(spark: SparkSession, dir: String): Unit = {
    fittedCentroids(spark, dir)
    embPairsIndexed(spark, dir, Pipeline.Z2Bands, Pipeline.Z2PlanesPerBand)
    ivfListsIndexed(spark, dir)
    ivfListsCompacted(spark, dir)
    ()
  }

  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(fittedCentroids(spark, dir))(spark, dir)

  // ---------------------------------------------------------------------
  // N12 — O(delta) IVF index MAINTENANCE, the vector-side twin of b8's
  // incremental inverted index: a 100 TB vector corpus is never
  // re-assigned per arrival batch. The inverted LISTS over the existing
  // corpus persist once ([[graft.Scratch]]) with the vector stored
  // alongside its membership — a real IVF segment's layout — and an
  // arrival batch (here the vec_id % [[IvfDeltaMod]] == 0 slice, u2's
  // diff in deployment) runs the assignment kernel on ITSELF ONLY under
  // the FROZEN coarse quantizer; the maintained read view is
  // persisted ∪ delta. Freezing the quantizer is what makes maintenance
  // O(delta) — and is the industry norm (FAISS/Lucene-HNSW re-train on
  // rebuild, not per batch); the refit trigger is drift accounting, not
  // arrival. Because the quantizer is frozen, serving off the maintained
  // view must EQUAL a from-scratch rebuild — so the gate scores n4's
  // probe over the maintained lists against n4's own full-rebuild
  // oracle, and IncrementalIvfSpec pins list-level set equality plus the
  // artifact's delta-free content (the O(delta) evidence).
  // ---------------------------------------------------------------------
  val IvfDeltaMod = 9L

  /** The persisted inverted-list artifact over the EXISTING (pre-delta)
    * corpus: (vec_id, centroid, embedding), built once per corpus.
    */
  private[operators] def ivfListsIndexed(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.Scratch.materialize(spark, "ivf_lists",
      s"lcg-k$NCentroids-dim$Dim-mod$IvfDeltaMod-v1", dir) { staging =>
      nonZeroEmbeddings(spark, dir)
        .filter(col("vec_id") % IvfDeltaMod =!= 0)
        .select(col("vec_id"),
          assignColumnOf(centroids)(col("embedding")).as("centroid"),
          col("embedding"))
        .write.parquet(staging)
    }
    graft.Catalog.read(spark, idx)
  }

  /** The maintained read view: persisted lists ∪ freshly-assigned delta
    * (only the delta touches the assignment kernel).
    */
  private[graft] def maintainedIvfLists(spark: SparkSession, dir: String): DataFrame = {
    val deltaLists = nonZeroEmbeddings(spark, dir)
      .filter(col("vec_id") % IvfDeltaMod === 0)
      .select(col("vec_id"),
        assignColumnOf(centroids)(col("embedding")).as("centroid"),
        col("embedding"))
    ivfListsIndexed(spark, dir).union(deltaLists)
  }

  /** THE serving core over an inverted-list relation (vec_id, centroid,
    * embedding): probe each query's top-NProbe centroids, score list
    * members with exact cosine, cut top-k per query. Shared by n12's
    * batch gate and the streaming serving twin
    * ([[graft.streaming.Streams.vectorSearchSink]]) so the two paths
    * cannot diverge — ranking is per query, so micro-batch boundaries
    * in the query stream change nothing.
    */
  def serveIvf(queryVecs: DataFrame, lists: DataFrame): DataFrame = {
    val queries = broadcast(
      queryVecs.select(col("query_id"), col("embedding").as("qv"),
        explode(topCentroidsOf(centroids)(col("embedding"), NProbe))
          .as("centroid")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    lists.join(queries,
        lists("centroid") === queries("centroid") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("embedding")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
  }

  def annIvfIncremental(spark: SparkSession, dir: String): DataFrame =
    serveIvf(
      nonZeroEmbeddings(spark, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      maintainedIvfLists(spark, dir))
      .orderBy(col("query_id"), col("rank"))

  // ---------------------------------------------------------------------
  // N16 — TOMBSTONE-aware IVF serve (round-12 verdict item #6): n12
  // covers inserts, b13 covers retrieval forget — this is the vector
  // side of deletion. A 100 TB vector index never rewrites its inverted
  // lists per delete; deletes accumulate as a TOMBSTONE relation that is
  // anti-joined against list members BEFORE rerank, so deleted vectors
  // neither occupy result slots nor shield better survivors, and the
  // physical artifact stays immutable until the next compaction (the
  // FAISS IDSelector / Lucene live-docs discipline).
  //
  // The claim, pinned as DATA (n7's accounting shape): under the frozen
  // coarse quantizer, assignment is per-vector, so tombstone-filtering
  // the maintained lists must EQUAL a full rebuild over the post-delete
  // corpus — serve results identical, recall exactly 1.0, and no served
  // vec_id in the delete set. The gate row carries (n_deleted,
  // n_expected, n_hits, recall, no_deleted_served); the oracle
  // recomputes the rebuilt serve from scratch in SQL (n4's CTE chain
  // with the delete predicate inside the lists CTE) and derives
  // no_deleted_served by exact bool_and over its own result — a serving
  // path that leaked a tombstoned vector or dropped a survivor
  // hash-diverges on n_hits/no_deleted_served immediately.
  // ---------------------------------------------------------------------
  val IvfDeleteMod = 5L
  val IvfDeleteRes = 2L

  def annIvfDeletes(spark: SparkSession, dir: String): DataFrame = {
    val emb = nonZeroEmbeddings(spark, dir)
    val tomb = emb.filter(col("vec_id") % IvfDeleteMod === IvfDeleteRes)
      .select(col("vec_id"))
    // queries are EXTERNAL — deletion removes stored vectors, not the
    // right to query (serveIvf's self-exclusion handles identity hits)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // serving path: the maintained artifact (persisted ∪ delta) with the
    // tombstone set anti-joined before rerank — no list rewrite
    val served = serveIvf(queries,
      maintainedIvfLists(spark, dir).join(tomb, Seq("vec_id"), "left_anti"))
    // evaluation arm (n7's embedded-baseline shape): a full rebuild over
    // the post-delete corpus under the same frozen quantizer
    val rebuilt = serveIvf(queries,
      emb.join(tomb, Seq("vec_id"), "left_anti")
        .select(col("vec_id"),
          assignColumnOf(centroids)(col("embedding")).as("centroid"),
          col("embedding")))
    val nDeleted = tomb.agg(count(lit(1)).as("n_deleted"))
    val servedTomb = served.agg(coalesce(
      max((col("vec_id") % IvfDeleteMod === IvfDeleteRes).cast("int")),
      lit(0)).as("served_deleted"))
    // empty-serve edge defined EXHAUSTIVELY (the c15/s27 latent-divergence
    // class): zero expected pairs reads (0, 0, recall 1.0 — vacuously
    // complete, true) in BOTH engines, never NULL sums or 0/0 divisions
    rebuilt.select(col("query_id"), col("vec_id"))
      .join(served.select(col("query_id"), col("vec_id"),
        lit(1).as("hit")), Seq("query_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_expected"),
        coalesce(sum(coalesce(col("hit"), lit(0))), lit(0L)).cast("long")
          .as("n_hits"))
      .crossJoin(broadcast(nDeleted))
      .crossJoin(broadcast(servedTomb))
      .select(col("n_deleted"), col("n_expected"), col("n_hits"),
        when(col("n_expected") === 0, lit(1.0))
          .otherwise(round(col("n_hits").cast("double") / col("n_expected"), 6))
          .as("recall"),
        (col("served_deleted") === 0).as("no_deleted_served"))
  }

  // ---------------------------------------------------------------------
  // N17 — threshold-triggered TOMBSTONE COMPACTION (round-13 verdict item
  // #5): n16 serves correctly under deletes but its tombstone relation
  // grows forever — every serve pays the anti-join against an ever-larger
  // delete set, and list space is never reclaimed. The lifecycle fix is
  // the FAISS merge / Lucene segment-merge discipline: when the
  // tombstoned fraction crosses [[IvfCompactTriggerPpm]], rewrite the
  // lists ONCE dropping tombstoned members (persisted via Scratch — a new
  // artifact generation) and reset the tombstone relation to empty; below
  // the threshold, keep serving tombstone-filtered (n16's path) — the
  // rewrite amortizes over the serves it cheapens.
  //
  // The claim, pinned as DATA: compaction must be INVISIBLE to serving —
  // serve(maintained ∖ tombstones) ≡ serve(compacted artifact), row for
  // row (`serve_identical`), and the compacted serve still equals the
  // from-scratch post-delete rebuild (n16's recall/no-deleted-served
  // shape, here measured against the COMPACTED artifact). `n_after` is
  // the z18 discipline — the engine counts the ARTIFACT the rewrite
  // actually produced, the oracle computes n_before − n_deleted from the
  // raw data, so a rewrite that dropped a survivor or kept a tombstone
  // hash-diverges on a NUMBER. The trigger decision itself is recomputed
  // by the oracle from exact counts (`compaction_triggered`).
  //
  // Plan/scale: the trigger reads two bounded counts (planning state);
  // the rewrite is one anti-join + write over the lists (O(index), paid
  // once per threshold crossing, never per serve); serving joins stay
  // centroid-equi. At 100 TB the rewrite would land per-partition
  // (lists bucket by centroid), not as one job — the partition-pruned
  // upsert discipline documented at Lifecycle.upsertPartitioned.
  // ---------------------------------------------------------------------
  val IvfCompactTriggerPpm = 100000L

  /** The compacted inverted-list artifact: the maintained view rewritten
    * without tombstoned members — one generation, persisted.
    */
  private[operators] def ivfListsCompacted(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.Scratch.materialize(spark, "ivf_lists_compacted",
      s"lcg-k$NCentroids-dim$Dim-mod$IvfDeltaMod-" +
        s"del${IvfDeleteMod}r$IvfDeleteRes-v1", dir) { staging =>
      maintainedIvfLists(spark, dir)
        .join(nonZeroEmbeddings(spark, dir)
            .filter(col("vec_id") % IvfDeleteMod === IvfDeleteRes)
            .select(col("vec_id")),
          Seq("vec_id"), "left_anti")
        .write.parquet(staging)
    }
    graft.Catalog.read(spark, p)
  }

  def annIvfCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = nonZeroEmbeddings(spark, dir)
    val tomb = emb.filter(col("vec_id") % IvfDeleteMod === IvfDeleteRes)
      .select(col("vec_id"))
    val maintained = maintainedIvfLists(spark, dir)
    // threshold trigger — two bounded counts, the planning state that
    // decides whether an artifact generation is written at all
    val nBefore = maintained.count()
    val nDeleted = tomb.count()
    val tombPpm =
      if (nBefore == 0L) 0L
      else (BigInt(nDeleted) * 1000000 / nBefore).toLong
    val triggered = tombPpm >= IvfCompactTriggerPpm
    // pre-compact serving view (n16's path) vs the post-compact artifact
    val preView = maintained.join(tomb, Seq("vec_id"), "left_anti")
    val postView = if (triggered) ivfListsCompacted(spark, dir) else preView
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // every serve result is (queries × k)-bounded — collect each ONCE
    // and assemble the accounting driver-side. The first cut joined the
    // lazy serve plans into one output row and re-planned the serve
    // subtree six times per gate collect (round-14 review); this form
    // runs each serve exactly once, and the untriggered arm skips the
    // pre-compact serve entirely (the identity is definitionally true
    // when both sides are the same relation).
    def servedSet(lists: DataFrame): Set[(Long, Long, Int)] =
      serveIvf(queries, lists)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val post = servedSet(postView)
    val pre = if (triggered) servedSet(preView) else post
    val rebuilt = servedSet(
      emb.join(tomb, Seq("vec_id"), "left_anti")
        .select(col("vec_id"),
          assignColumnOf(centroids)(col("embedding")).as("centroid"),
          col("embedding")))
    val nAfter = postView.count()
    val postPairs = post.map(t => (t._1, t._2))
    val nExpected = rebuilt.size.toLong
    val nHits = rebuilt.map(t => (t._1, t._2)).intersect(postPairs)
      .size.toLong
    // 6-dp half-up, the same edge rule as Spark's round / the oracle's
    val recall =
      if (nExpected == 0L) 1.0
      else BigDecimal(nHits.toDouble / nExpected)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val noDeletedServed =
      !postPairs.exists(_._2 % IvfDeleteMod == IvfDeleteRes)
    Seq((nBefore, nDeleted, tombPpm, triggered, nAfter, nExpected, nHits,
        recall, noDeletedServed, pre == post))
      .toDF("n_before", "n_deleted", "tombstone_ppm",
        "compaction_triggered", "n_after", "n_expected", "n_hits",
        "recall", "no_deleted_served", "serve_identical")
  }

  // ---------------------------------------------------------------------
  // N13 — the REFIT TRIGGER n12 defers to: is the arrival batch drawn
  // from the same coarse-quantizer distribution as the existing corpus?
  // A frozen quantizer stays healthy only while arrivals fill the
  // inverted lists in the existing proportions; when the embedding
  // distribution shifts (new domain, new encoder), the delta's list
  // histogram diverges and recall quietly rots. That is a CATEGORICAL
  // association question — centroid × epoch — so this is c4's
  // chi-square applied to the maintained index's own accounting
  // relation: one tiny (centroid, epoch, count) aggregate (the lists
  // artifact is read, not recomputed; only the delta re-assigns — n12's
  // O(delta) economics), c4's integer-exact cell math, one accounting
  // row whose chi2_ppm an alerting rule thresholds (c6's pattern).
  // ---------------------------------------------------------------------
  def ivfDrift(spark: SparkSession, dir: String): DataFrame = {
    val existing = ivfListsIndexed(spark, dir)
      .select(col("centroid"), lit("existing").as("epoch"))
    val delta = nonZeroEmbeddings(spark, dir)
      .filter(col("vec_id") % IvfDeltaMod === 0)
      .select(assignColumnOf(centroids)(col("embedding")).as("centroid"),
        lit("delta").as("epoch"))
    Profile.chiSquareOf(existing.union(delta), "centroid", "epoch")
  }

  // ---------------------------------------------------------------------
  // Exact DuckDB oracles for the approximate operators. The LSH planes /
  // IVF centroids are pure deterministic functions (LCGs, float-rounded),
  // and both engines compute dots as sequential double accumulation over
  // float inputs — bit-identical, so candidate sets (and therefore the
  // "approximate" outputs) are exactly reproducible in SQL. This promotes
  // n3/n4/n5 from rows-only gate entries to full hash-checked ones: the
  // oracle re-derives the same index structure, not just a recall bound.
  // ---------------------------------------------------------------------

  /** Embeddings CTE shared by the ANN oracles (float→double is exact) —
    * zero-norm-filtered in lockstep with [[nonZeroEmbeddings]], so a zero
    * vector in some future fixture can never enter an oracle candidate set
    * and NaN-sort to the top (ADVICE r4).
    */
  private val embCte =
    s"e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE $nonZeroSql)"

  /** Shared scoring tail: exact cosine + top-k over a `pairs` CTE of
    * (query_id, vec_id) candidates — the mirror of the verify step every
    * ANN variant ends with.
    */
  private val scoredTailSql: String =
    s"""scored AS (
       | SELECT p.query_id, p.vec_id,
       |  round(list_cosine_similarity(qe.emb, ce.emb), 6) AS cosine,
       |  row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY round(list_cosine_similarity(qe.emb, ce.emb), 6) DESC, p.vec_id) AS rank
       | FROM pairs p JOIN e qe ON qe.vec_id = p.query_id JOIN e ce ON ce.vec_id = p.vec_id)
       |SELECT query_id, vec_id, cosine, rank FROM scored
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** planes → e → dots → bands CTE chain regenerating [[lshBandsOf]]'s
    * exact band relation in SQL for an arbitrary AND-OR banding of the
    * shared LCG hyperplanes — used by the n3 oracle (8 bands × 4 planes)
    * and the z2 oracle (16 × 2).
    */
  private[operators] def lshBandsCtesSql(nPlanes: Int, planesPerBand: Int): String =
    s"""planes AS (
       | SELECT p.range AS p,
       |  list(CAST(((1103515245 * (p.range * $Dim + d.range) + 12345) & 2147483647)::DOUBLE
       |    / 2147483648 - 0.5 AS FLOAT)::DOUBLE ORDER BY d.range) AS v
       | FROM range($nPlanes) p, range($Dim) d GROUP BY p.range),
       |$embCte,
       |dots AS (SELECT e.vec_id, pl.p, list_inner_product(e.emb, pl.v) AS dp FROM e, planes pl),
       |bands AS (
       | SELECT vec_id, p // $planesPerBand AS band_idx,
       |  sum(CASE WHEN dp >= 0 THEN 1::BIGINT << (p % $planesPerBand) ELSE 0 END) AS sig
       | FROM dots GROUP BY vec_id, p // $planesPerBand)""".stripMargin

  /** N3 oracle: regenerate the hyperplanes from the same LCG, recompute
    * band signatures, join on band equality, verify with exact cosine.
    */
  val annLshSql: String =
    s"""WITH ${lshBandsCtesSql(LshPlanes, PlanesPerBand)},
       |pairs AS (
       | SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       | FROM bands q JOIN bands c ON q.band_idx = c.band_idx AND q.sig = c.sig
       | WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id),
       |$scoredTailSql""".stripMargin.replace('\n', ' ')

  /** Per-vector centroid ranking CTEs over a centroid relation `$ct(c, v)`:
    * `lists` (argmax assignment) and `probes` (top-NProbe for the query
    * set) — ties on the dot break to the higher centroid id, mirroring
    * [[topCentroidsOf]]'s reversed struct sort.
    */
  private def ivfProbeCtes(ct: String): String =
    s"""dq AS (SELECT e.vec_id, ct.c,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_inner_product(e.emb, ct.v) DESC, ct.c DESC) AS rk
       | FROM e, $ct ct),
       |lists AS (SELECT vec_id, c AS centroid FROM dq WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, c AS centroid FROM dq WHERE vec_id < $NQueries AND rk <= $NProbe),
       |pairs AS (
       | SELECT DISTINCT p.query_id, l.vec_id
       | FROM probes p JOIN lists l ON p.centroid = l.centroid
       | WHERE l.vec_id <> p.query_id)""".stripMargin

  /** Centroid-LCG CTE regenerating [[centroidComponent]]'s synthetic
    * centroids in SQL under the given alias — the single source shared by
    * the n4 oracle (coarse quantizer) and the n5 oracle (under-k seed
    * padding), so the LCG constants can never drift between them.
    */
  private def centroidLcgCteSql(alias: String): String =
    s"""$alias AS (
       | SELECT c.range AS c,
       |  list(CAST(((22695477 * (c.range * $Dim + d.range + 7919) + 1) & 2147483647)::DOUBLE
       |    / 2147483648 - 0.5 AS FLOAT)::DOUBLE ORDER BY d.range) AS v
       | FROM range($NCentroids) c, range($Dim) d GROUP BY c.range)""".stripMargin

  /** N4 oracle: regenerate the synthetic centroids from their LCG, then
    * the standard IVF assign/probe/verify.
    */
  val annIvfSql: String =
    s"""WITH ${centroidLcgCteSql("ctrs")},
       |$embCte,
       |${ivfProbeCtes("ctrs")},
       |$scoredTailSql""".stripMargin.replace('\n', ' ')

  /** N5 oracle: the ENTIRE spherical k-means fit unrolled in SQL —
    * deterministic init (k lowest vec_ids, 6-dp-rounded float normalize),
    * then [[KmeansIters]] unrolled Lloyd iterations (argmax-dot assign,
    * per-(centroid, dim) mean, renormalize; empty clusters keep their
    * previous centroid), then the same probe tail as N4. The 6-dp
    * half-away-from-zero rounding both engines apply after each iteration
    * absorbs aggregation-order ULP noise, which is what makes the fit —
    * and hence the whole "approximate" query — bit-reproducible.
    */
  /** The entire deterministic spherical k-means fit unrolled as a CTE
    * chain (embeddings, seed + LCG padding, [[KmeansIters]] Lloyd rounds)
    * ending in `ct$KmeansIters(c, v)` — factored out so the n5 oracle and
    * d14's SemDeDup oracle share ONE fit that can never drift.
    */
  private def kmeansFitCtesSql: Seq[String] = {
    def normList(v: String): String =
      s"""CASE WHEN sqrt(list_inner_product($v,$v)) = 0
         | THEN [CAST(CAST(round(x * 1000000) AS FLOAT) / CAST(1000000 AS FLOAT) AS DOUBLE) for x in $v]
         | ELSE [CAST(CAST(round(x / sqrt(list_inner_product($v,$v)) * 1000000) AS FLOAT) / CAST(1000000 AS FLOAT) AS DOUBLE) for x in $v] END""".stripMargin
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    parts += embCte
    parts += s"seed AS (SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS c FROM e ORDER BY vec_id LIMIT $NCentroids)"
    // under-k corpora: mirror fitIvfCentroids' synthetic-LCG padding (ADVICE
    // r5 — the fit pads missing seeds with normalized LCG centroids; the
    // oracle must produce the identical ct0 or a small fixture diverges)
    parts += centroidLcgCteSql("lcg")
    parts += s"ct0 AS (SELECT c, ${normList("emb")} AS v FROM seed UNION ALL SELECT l.c, ${normList("l.v")} FROM lcg l WHERE l.c >= (SELECT count(*) FROM seed))"
    for (it <- 1 to KmeansIters) {
      val prev = s"ct${it - 1}"
      parts += s"""d$it AS (SELECT e.vec_id, ct.c,
        | row_number() OVER (PARTITION BY e.vec_id
        |   ORDER BY list_inner_product(e.emb, ct.v) DESC, ct.c DESC) AS rk
        | FROM e, $prev ct)""".stripMargin
      parts += s"a$it AS (SELECT vec_id, c FROM d$it WHERE rk = 1)"
      parts += s"""m$it AS (SELECT a.c, dd.range AS dim, avg(e.emb[dd.range + 1]) AS m
        | FROM a$it a JOIN e ON e.vec_id = a.vec_id, range($Dim) dd GROUP BY a.c, dd.range)""".stripMargin
      parts += s"mv$it AS (SELECT c, list(m ORDER BY dim) AS mv FROM m$it GROUP BY c)"
      parts += s"""ct$it AS (SELECT p.c, CASE WHEN mv.c IS NULL THEN p.v ELSE ${normList("mv.mv")} END AS v
        | FROM $prev p LEFT JOIN mv$it mv ON p.c = mv.c)""".stripMargin
    }
    parts.toSeq
  }

  val annIvfKmeansSql: String =
    ("WITH " + (kmeansFitCtesSql :+ ivfProbeCtes(s"ct$KmeansIters"))
      .mkString(", ") + ", " + scoredTailSql).replace('\n', ' ')

  /** n4's probe CTEs with the tombstone predicate inside the lists CTE —
    * the oracle's from-scratch rebuild over the post-delete corpus.
    */
  private def ivfProbeCtesDeleted(ct: String): String =
    s"""dq AS (SELECT e.vec_id, ct.c,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_inner_product(e.emb, ct.v) DESC, ct.c DESC) AS rk
       | FROM e, $ct ct),
       |lists AS (SELECT vec_id, c AS centroid FROM dq
       |  WHERE rk = 1 AND vec_id % $IvfDeleteMod <> $IvfDeleteRes),
       |probes AS (SELECT vec_id AS query_id, c AS centroid FROM dq
       |  WHERE vec_id < $NQueries AND rk <= $NProbe),
       |pairs AS (
       | SELECT DISTINCT p.query_id, l.vec_id
       | FROM probes p JOIN lists l ON p.centroid = l.centroid
       | WHERE l.vec_id <> p.query_id)""".stripMargin

  val annIvfDeletesSql: String =
    s"""WITH ${centroidLcgCteSql("ctrs")},
       |$embCte,
       |${ivfProbeCtesDeleted("ctrs")},
       |scored AS (
       | SELECT p.query_id, p.vec_id,
       |  row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY round(list_cosine_similarity(qe.emb, ce.emb), 6) DESC,
       |      p.vec_id) AS rank
       | FROM pairs p JOIN e qe ON qe.vec_id = p.query_id
       |   JOIN e ce ON ce.vec_id = p.vec_id),
       |serve AS (SELECT query_id, vec_id FROM scored WHERE rank <= $TopK)
       |SELECT
       | CAST((SELECT count(*) FROM e
       |   WHERE vec_id % $IvfDeleteMod = $IvfDeleteRes) AS BIGINT)
       |  AS n_deleted,
       | CAST(count(*) AS BIGINT) AS n_expected,
       | CAST(count(*) AS BIGINT) AS n_hits,
       | CASE WHEN count(*) = 0 THEN CAST(1.0 AS DOUBLE)
       |  ELSE round(count(*)::DOUBLE / count(*), 6) END AS recall,
       | coalesce(bool_and(vec_id % $IvfDeleteMod <> $IvfDeleteRes), TRUE)
       |  AS no_deleted_served
       |FROM serve""".stripMargin.replace('\n', ' ')

  /** N17 oracle: the SAME post-delete rebuild serve as n16's, plus the
    * compaction accounting recomputed from raw counts (n_after as
    * n_before − n_deleted — the engine counts the actual artifact) and
    * the serve-identity claim pinned true.
    */
  val annIvfCompactSql: String =
    s"""WITH ${centroidLcgCteSql("ctrs")},
       |$embCte,
       |${ivfProbeCtesDeleted("ctrs")},
       |scored AS (
       | SELECT p.query_id, p.vec_id,
       |  row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY round(list_cosine_similarity(qe.emb, ce.emb), 6) DESC,
       |      p.vec_id) AS rank
       | FROM pairs p JOIN e qe ON qe.vec_id = p.query_id
       |   JOIN e ce ON ce.vec_id = p.vec_id),
       |serve AS (SELECT query_id, vec_id FROM scored WHERE rank <= $TopK),
       |acct AS (SELECT count(*)::BIGINT AS nb,
       |  (count(*) FILTER (WHERE vec_id % $IvfDeleteMod = $IvfDeleteRes))::BIGINT AS nd
       | FROM e)
       |SELECT nb AS n_before, nd AS n_deleted,
       | CAST(CASE WHEN nb = 0 THEN 0 ELSE (nd * 1000000) // nb END AS BIGINT)
       |  AS tombstone_ppm,
       | (CASE WHEN nb = 0 THEN 0 ELSE (nd * 1000000) // nb END)
       |  >= $IvfCompactTriggerPpm AS compaction_triggered,
       | (nb - nd) AS n_after,
       | (SELECT count(*) FROM serve)::BIGINT AS n_expected,
       | (SELECT count(*) FROM serve)::BIGINT AS n_hits,
       | CASE WHEN (SELECT count(*) FROM serve) = 0 THEN CAST(1.0 AS DOUBLE)
       |  ELSE round((SELECT count(*) FROM serve)::DOUBLE
       |    / (SELECT count(*) FROM serve), 6) END AS recall,
       | (SELECT coalesce(bool_and(vec_id % $IvfDeleteMod <> $IvfDeleteRes), TRUE)
       |  FROM serve) AS no_deleted_served,
       | true AS serve_identical
       |FROM acct""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // D14 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  // dedup by CLUSTER-then-compare — k-means the embedding space with the
  // n5 fitted quantizer, compute exact pairwise cosine only WITHIN each
  // cluster, and greedily keep the smallest id of every qualifying pair
  // (z1's keeper rule). This is the published industrial-scale answer to
  // z2's question with a different candidate generator: z2's LSH bands
  // are probabilistic (recall measured, d10-style), SemDeDup's cluster
  // restriction is DETERMINISTIC given the quantizer — a cross-cluster
  // near-dup pair is missed by design (the paper's trade), and the pair
  // set is exactly "cosine ≥ t AND same cluster", which the oracle
  // re-derives from the SAME unrolled k-means fit, so the gate hash
  // proves both the fit and the restriction.
  //
  // Scale shape: the pairwise work is Σ_c |c|² — with k grown ∝ corpus
  // (k ≈ n/targetClusterSize, exactly how the paper runs 50k clusters
  // over LAION) each cluster's self-join is one task-sized hash join
  // partitioned by centroid, total work n·(n/k) = n·targetClusterSize —
  // LINEAR in the corpus at fixed cluster size, never all-pairs. The
  // fitted quantizer is the persisted k·Dim artifact (fittedCentroids);
  // assignment is one map-side argmax-dot pass.
  // ---------------------------------------------------------------------
  /** SemDeDup cosine threshold — deliberately z2's [[PairThreshold]], so
    * the two candidate generators answer the same question and their
    * disagreement (cross-cluster pairs only) is measurable in specs.
    */
  val SemThreshold: Double = PairThreshold

  /** Verdict per vector: (vec_id, centroid, is_keeper) over any
    * (vec_id, embedding) relation, given a fitted quantizer.
    */
  def semDedupOf(e: DataFrame, ctrs: Seq[Seq[Float]]): DataFrame = {
    val assigned = e.select(col("vec_id"),
      assignColumnOf(ctrs)(col("embedding")).cast("long").as("centroid"),
      col("embedding"))
    val a = assigned.select(col("vec_id").as("va"),
      col("centroid").as("ca"), col("embedding").as("ea"))
    val b = assigned.select(col("vec_id").as("vb"),
      col("centroid").as("cb"), col("embedding").as("eb"))
    val losers = a.join(b, col("ca") === col("cb") && col("va") < col("vb"))
      .filter(round(cosine_sim(col("ea"), col("eb")), 6) >= SemThreshold)
      .select(col("vb").as("vec_id")).distinct()
    // presentation sort is a RANGE sort: the verdict relation is one row
    // per corpus vector (tinySort's one-partition collapse is for
    // delta-sized outputs only)
    assigned.join(losers.withColumn("l", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid"),
        coalesce(!col("l"), lit(true)).as("is_keeper"))
      .orderBy(col("vec_id"))
  }

  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupOf(nonZeroEmbeddings(spark, dir), fittedCentroids(spark, dir))

  /** Oracle: the SAME unrolled k-means fit as n5 (shared CTEs), argmax
    * assignment over ALL vectors, within-cluster exact-cosine pairs,
    * greedy keep-smallest.
    */
  val semDedupSql: String = {
    val listsCtes =
      s"""dall AS (SELECT e.vec_id, ct.c,
         |  row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_inner_product(e.emb, ct.v) DESC, ct.c DESC) AS rk
         | FROM e, ct$KmeansIters ct),
         |lst AS (SELECT vec_id, c AS centroid FROM dall WHERE rk = 1),
         |prs AS (
         | SELECT a.vec_id AS va, b.vec_id AS vb
         | FROM lst a JOIN lst b ON a.centroid = b.centroid AND a.vec_id < b.vec_id
         | JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         | WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= $SemThreshold)""".stripMargin
    ("WITH " + (kmeansFitCtesSql :+ listsCtes).mkString(", ") +
      s""" SELECT l.vec_id, l.centroid,
         | (l.vec_id NOT IN (SELECT vb FROM prs)) AS is_keeper
         |FROM lst l ORDER BY l.vec_id""".stripMargin).replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // N6 — int8 scalar quantization: the storage path of a 100 TB vector
  // corpus (4 B float32/dim → 1 B int8/dim + one scale per vector, the
  // standard SQ8 layout IVF/HNSW stores serve from). Per vector:
  // scale = max|x_i|, q_i = floor(x_i·127/scale + 0.5) ∈ [-127, 127].
  // Pure per-row map work — no shuffle, no kernel state. EVERY arithmetic
  // step is IEEE-double deterministic across engines (float→double
  // promotion exact, one multiply, one divide, floor exact — the x10
  // rule: no transcendentals, no multi-term float accumulation except
  // over exact integers), so the registered rollup is hash-exact:
  // integer checksum, L1 norm, zero-dim count per vector. NULL
  // embeddings have no quantized form (excluded, the NullEmbeddingSpec
  // contract); zero vectors quantize to all-zero and are KEPT — they are
  // corpus members even without a direction.
  // ---------------------------------------------------------------------
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val emb = col("embedding")
    val maxAbs = array_max(transform(emb, x => abs(x.cast("double"))))
    val qArr = when(col("max_abs") > 0,
      transform(emb, x =>
        floor(x.cast("double") * 127 / col("max_abs") + 0.5).cast("long")))
      .otherwise(transform(emb, _ => lit(0L)))
    Catalog.embeddings(spark, dir)
      .filter(emb.isNotNull)
      .withColumn("max_abs", maxAbs)
      .withColumn("q", qArr)
      .select(
        col("vec_id"),
        round(col("max_abs"), 6).as("scale_r"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        aggregate(col("q"), lit(0L),
          (a, x) => a + when(x === 0L, 1L).otherwise(0L)).as("n_zero_dims"))
      .orderBy(col("vec_id"))
  }

  val quantizeInt8Sql: String =
    """WITH base AS (
      | SELECT vec_id, embedding::DOUBLE[] AS emb,
      |  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS max_abs
      | FROM embeddings WHERE embedding IS NOT NULL),
      |q AS (
      | SELECT vec_id, max_abs,
      |  CASE WHEN max_abs > 0
      |   THEN list_transform(emb, x -> floor(x * 127 / max_abs + 0.5))
      |   ELSE list_transform(emb, x -> 0.0) END AS qv
      | FROM base)
      |SELECT vec_id, round(max_abs, 6) AS scale_r,
      | CAST(list_sum(qv) AS BIGINT) AS q_sum,
      | CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
      | CAST(list_sum(list_transform(qv, x -> CASE WHEN x = 0 THEN 1.0 ELSE 0.0 END)) AS BIGINT) AS n_zero_dims
      |FROM q ORDER BY vec_id""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // N7 — ANN recall evaluation: the acceptance gate a pipeline runs
  // before swapping brute force for an index. For each approximate
  // method (n3 LSH, n4 IVF, n5 fitted IVF), how many of the exact
  // top-K pairs (n1) does it return? Exact integer accounting (pair
  // counts) plus recall as ONE IEEE division — the x10 rule: nothing
  // transcendental, nothing accumulated in floats.
  //
  // Scale: every side is an already-rank-truncated ANN result
  // (NQueries × TopK rows), so the joins and aggregates here are
  // evaluation-set-sized regardless of corpus size. The exact arm is
  // recomputed per method (3× n1) — an evaluation run, not a serving
  // path; a deployment would persist n1's result once.
  // ---------------------------------------------------------------------
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // each arm executes ONCE: the exact pairs fan out over a 3-row method
    // literal (not one n1 recompute per method — the d2/z1/z3 lesson),
    // and the method-tagged approximate results union into one join side
    val methods = spark.createDataFrame(
      Seq(Tuple1("n3_lsh"), Tuple1("n4_ivf"), Tuple1("n5_ivf_kmeans")))
      .toDF("method")
    val expected = annBruteForce(spark, dir)
      .select(col("query_id"), col("vec_id")).crossJoin(broadcast(methods))
    def tag(name: String, approx: DataFrame): DataFrame =
      approx.select(lit(name).as("method"), col("query_id"), col("vec_id"),
        lit(1).as("hit"))
    val approx = tag("n3_lsh", annLsh(spark, dir))
      .unionAll(tag("n4_ivf", annIvf(spark, dir)))
      .unionAll(tag("n5_ivf_kmeans", annIvfKmeans(spark, dir)))
    expected.join(approx, Seq("method", "query_id", "vec_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_expected"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("method"), col("n_expected"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_expected"), 6).as("recall"))
      .orderBy(col("method"))
  }

  val annRecallSql: String = {
    def one(name: String, sql: String): String =
      s"""SELECT '$name' AS method,
         | CAST(count(*) AS BIGINT) AS n_expected,
         | CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         | round(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |   / count(*), 6) AS recall
         |FROM ($annBruteForceSql) e
         |LEFT JOIN ($sql) a USING (query_id, vec_id)""".stripMargin
    (one("n3_lsh", annLshSql) + " UNION ALL " +
      one("n4_ivf", annIvfSql) + " UNION ALL " +
      one("n5_ivf_kmeans", annIvfKmeansSql) + " ORDER BY method")
      .replace('\n', ' ')
  }

  /** Registry of this module's catalogued queries. */
  // ---------------------------------------------------------------------
  // N8 — semantic decontamination: the embedding twin of x7's lexical
  // shingle overlap. An eval/benchmark embedding set (here: the EvalSlice
  // lowest vec_ids, standing in for an external suite) broadcasts; every
  // corpus vector takes ONE map pass against it and keeps its max cosine.
  // A corpus vector with max cosine ≥ the threshold is contamination —
  // paraphrased or re-rendered eval content that lexical shingles miss.
  //
  // Scale: the eval side of a decontamination run is small by nature
  // (benchmarks are thousands of rows, the corpus is billions) — a
  // broadcast join with map-side partial max means the only shuffle is
  // one (vec_id, max) row per corpus vector. For very large eval suites,
  // pre-bucket both sides with the n3 LSH arm and intersect buckets
  // instead ([[annLsh]]'s structure); the registered query pins the
  // broadcast form.
  // ---------------------------------------------------------------------
  val EvalSlice = 50
  val DecontamThreshold = 0.35

  /** Core over any (vec_id, embedding) frame: corpus rows (id ≥ evalMax)
    * scored by max cosine against the eval slice (id < evalMax).
    */
  def semanticDecontamOf(emb: DataFrame, evalMax: Int, tau: Double): DataFrame = {
    val evalSet = broadcast(
      emb.filter(col("vec_id") < evalMax)
        .select(col("vec_id").as("eval_id"), col("embedding").as("ev")))
    emb.filter(col("vec_id") >= evalMax)
      .join(evalSet)
      .groupBy(col("vec_id"))
      .agg(max(round(cosine_sim(col("ev"), col("embedding")), 6)).as("max_cosine"))
      .filter(col("max_cosine") >= tau)
      .orderBy(col("max_cosine").desc, col("vec_id"))
  }

  def semanticDecontam(spark: SparkSession, dir: String): DataFrame =
    semanticDecontamOf(nonZeroEmbeddings(spark, dir), EvalSlice,
      DecontamThreshold)

  val semanticDecontamSql: String =
    s"""WITH nz AS (SELECT * FROM embeddings WHERE $nonZeroSql)
       |SELECT c.vec_id,
       | max(round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)) AS max_cosine
       |FROM nz c JOIN nz q ON q.vec_id < $EvalSlice AND c.vec_id >= $EvalSlice
       |GROUP BY c.vec_id HAVING max_cosine >= $DecontamThreshold
       |ORDER BY max_cosine DESC, c.vec_id""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // N9 — product quantization (PQ) + ADC scoring: the OTHER standard
  // compressed-vector serving layout next to n6's SQ8 (Jégou et al. 2011).
  // The Dim=64 vector splits into PqM=8 subvectors; each quantizes to the
  // NEAREST (L2) codeword of its subspace's PqKs=16-entry codebook, so a
  // vector stores as 8 half-byte codes — 256 float bytes → 8 bytes, 32×,
  // vs SQ8's 4×. Queries score against the RECONSTRUCTED codeword
  // concatenation (asymmetric distance computation: full-precision query
  // × quantized corpus), and the gate emits n7-style per-query recall of
  // the ADC top-k against n1's exact top-k — exact integer accounting,
  // recall as one IEEE division.
  //
  // The codebooks are deterministic LCG floats (n4's synthetic-quantizer
  // discipline — a real deployment k-means-fits them per subspace, n5's
  // machinery; on uniform-noise fixtures a fit buys little and the gate
  // needs the oracle to REGENERATE the codebooks in SQL). Encoding is an
  // exact argmax (ties → highest code, both engines), reconstruction
  // concatenates the chosen codewords in subspace order, and scoring
  // reuses n1's round-to-6dp + id tiebreak, so the whole pipeline is
  // bit-reproducible cross-engine.
  //
  // Scale: encoding is one map pass (128 8-dim dots per vector, zero
  // shuffle); the codes relation is 9 bytes/vector — the thing a 100 TB
  // vector store actually persists; ADC scoring is a broadcast-query
  // scan with per-query TopK, n1's plan shape at 1/32 the bytes.
  // ---------------------------------------------------------------------
  val PqM = 8
  val PqKs = 16
  val PqSubDim: Int = Dim / PqM

  private def pqComponent(m: Int, k: Int, d: Int): Float = {
    val x = (1103515245L * ((m * PqKs + k) * PqSubDim + d + 12345L) + 54321L) &
      0x7fffffffL
    (x.toDouble / 0x80000000L.toDouble - 0.5).toFloat
  }

  /** [m][k][subdim] codebooks — deterministic, regenerated by the oracle. */
  private[operators] lazy val pqCodebooks: Seq[Seq[Seq[Float]]] =
    (0 until PqM).map(m => (0 until PqKs).map(k =>
      (0 until PqSubDim).map(d => pqComponent(m, k, d))))

  /** One code column per subspace: the nearest codeword in L2 — PQ's
    * actual objective (a codeword-exact vector must round-trip; argmax
    * raw dot would drift toward long codewords). Scored via the
    * argmin‖v−c‖² = argmax(v·c − ‖c‖²/2) identity so the kernel dot is
    * reused and the oracle mirrors the identical expression tree
    * (`list_inner_product(cb.v, cb.v)` sums in the same order as the
    * kernel's self-dot). Ties → highest code, both engines.
    */
  private[operators] def pqCodeCols(v: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until PqM).map { m =>
      val sub = slice(v, m * PqSubDim + 1, PqSubDim)
      val dots = array((0 until PqKs).map { k =>
        val cw = typedLit(pqCodebooks(m)(k))
        struct((dot_product(sub, cw) - dot_product(cw, cw) * 0.5).as("d"),
          lit(k).as("c"))
      }: _*)
      element_at(reverse(array_sort(dots)), 1).getField("c")
    }

  /** Reconstructed (decoded) vector from the PqM code columns. */
  private def pqReconstruct(codes: Seq[org.apache.spark.sql.Column]) =
    flatten(array((0 until PqM).map { m =>
      element_at(typedLit(pqCodebooks(m)), codes(m) + 1)
    }: _*))

  def pqAdcRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    val recon = e.select(col("vec_id"),
      pqReconstruct(pqCodeCols(col("embedding"))).as("recon"))
    val queries = broadcast(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val pqTop = recon.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("recon")), 6).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    annBruteForce(spark, dir)
      .select(col("query_id"), col("vec_id"))
      .join(pqTop, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_expected"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_expected"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_expected"), 6).as("recall"))
      .orderBy(col("query_id"))
  }

  /** The PQ encode→reconstruct CTE chain (`cb`, `subdots`, `codes`,
    * `recon(vec_id, r)`) — factored so the n9 oracle and n14's IVF-PQ
    * oracle share ONE codebook/assignment that can never drift.
    */
  private def pqReconCtesSql: String = {
    val lcg = s"((1103515245 * ((m.range * $PqKs + k.range) * $PqSubDim " +
      "+ d.range + 12345) + 54321) & 2147483647)"
    s"""cb AS (
       | SELECT m.range AS m, k.range AS k,
       |  list(CAST($lcg::DOUBLE / 2147483648 - 0.5 AS FLOAT)::DOUBLE
       |    ORDER BY d.range) AS v
       | FROM range($PqM) m, range($PqKs) k, range($PqSubDim) d
       | GROUP BY m.range, k.range),
       |subdots AS (
       | SELECT e.vec_id, cb.m, cb.k,
       |  list_inner_product(
       |    e.emb[cb.m * $PqSubDim + 1 : cb.m * $PqSubDim + $PqSubDim],
       |    cb.v) - list_inner_product(cb.v, cb.v) * 0.5 AS ip
       | FROM e, cb),
       |codes AS (
       | SELECT vec_id, m, k FROM (
       |  SELECT vec_id, m, k,
       |   row_number() OVER (PARTITION BY vec_id, m ORDER BY ip DESC, k DESC) AS rk
       |  FROM subdots) t WHERE rk = 1),
       |recon AS (
       | SELECT c.vec_id, flatten(list(cb.v ORDER BY c.m)) AS r
       | FROM codes c JOIN cb ON cb.m = c.m AND cb.k = c.k
       | GROUP BY c.vec_id)""".stripMargin
  }

  val pqAdcRecallSql: String = {
    s"""WITH $embCte,
       |$pqReconCtesSql,
       |pqtop AS (
       | SELECT query_id, vec_id FROM (
       |  SELECT q.vec_id AS query_id, r.vec_id,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY round(list_cosine_similarity(q.emb, r.r), 6) DESC, r.vec_id) AS rank
       |  FROM e q JOIN recon r ON q.vec_id < $NQueries AND r.vec_id <> q.vec_id) t
       | WHERE rank <= $TopK)
       |SELECT query_id, CAST(count(*) AS BIGINT) AS n_expected,
       | CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       | round(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |   / count(*), 6) AS recall
       |FROM ($annBruteForceSql) x
       |LEFT JOIN pqtop p USING (query_id, vec_id)
       |GROUP BY query_id ORDER BY query_id""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // N14 — IVF-PQ: the two compressions COMPOSED, which is the layout
  // billion-scale vector serving actually runs (FAISS IndexIVFPQ, Jégou
  // et al. 2011): the coarse quantizer (n4's IVF) bounds WHICH vectors a
  // query touches (NProbe inverted lists, not the corpus), and product
  // quantization (n9) bounds WHAT is read per touched vector (8 code
  // bytes + a codebook lookup, not 256 float bytes). Candidates come
  // from the probe join; ranking is asymmetric-distance (exact query ×
  // reconstructed candidate). Gate = the n7-style per-query exact-integer
  // recall against the brute-force top-K, so BOTH loss sources — probing
  // (missed lists) and quantization (reordered survivors) — are measured
  // together, the acceptance number a deployment actually cares about.
  //
  // Scale: per query the touched set is Σ|probed lists| — with k grown
  // ∝ corpus the probe cost is corpus/k · NProbe per query, and the
  // scanned bytes shrink 32× vs raw floats (n9's ratio). Everything is
  // the already-persisted artifacts composed: inverted lists (n12
  // maintains them O(delta)), PQ codes (one map pass to encode).
  // ---------------------------------------------------------------------
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    val recon = e.select(col("vec_id"),
      assignColumnOf(centroids)(col("embedding")).as("centroid"),
      pqReconstruct(pqCodeCols(col("embedding"))).as("recon"))
    val queries = broadcast(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          explode(topCentroidsOf(centroids)(col("embedding"), NProbe))
            .as("centroid")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val top = recon.join(queries,
        recon("centroid") === queries("centroid") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("recon")), 6).as("adc"))
      // no dedup needed: a candidate lives in exactly ONE inverted list
      // (argmax assignment), so a (query, candidate) pair arises once
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    annBruteForce(spark, dir)
      .select(col("query_id"), col("vec_id"))
      .join(top, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_expected"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_expected"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_expected"), 6).as("recall"))
      .orderBy(col("query_id"))
  }

  val ivfPqRecallSql: String =
    s"""WITH ${centroidLcgCteSql("ctrs")},
       |$embCte,
       |${ivfProbeCtes("ctrs")},
       |$pqReconCtesSql,
       |pqtop AS (
       | SELECT query_id, vec_id FROM (
       |  SELECT p.query_id, p.vec_id,
       |   row_number() OVER (PARTITION BY p.query_id
       |     ORDER BY round(list_cosine_similarity(qe.emb, r.r), 6) DESC, p.vec_id) AS rank
       |  FROM pairs p JOIN e qe ON qe.vec_id = p.query_id
       |  JOIN recon r ON r.vec_id = p.vec_id) t
       | WHERE rank <= $TopK)
       |SELECT query_id, CAST(count(*) AS BIGINT) AS n_expected,
       | CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       | round(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |   / count(*), 6) AS recall
       |FROM ($annBruteForceSql) x
       |LEFT JOIN pqtop p USING (query_id, vec_id)
       |GROUP BY query_id ORDER BY query_id""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // N15 — two-stage REFINE serving (FAISS IndexRefineFlat over any
  // compressed index; Jégou et al.'s re-ranking stage): ADC over the
  // 8-byte codes builds a SHORTLIST of L candidates per query, then the
  // full-precision vectors are fetched for the shortlist ONLY and the
  // final top-k re-ranks on exact cosine. This is how compressed vector
  // serving actually ships — the 32× compression bounds the scan, and
  // the k-vs-L dial trades one extra read of L·256 bytes per query for
  // recall quantization loss can't otherwise recover.
  //
  // Gate discipline: next to the per-query refined recall (n7's
  // exact-integer accounting), the STRUCTURAL claim rides as data —
  // refine can never do worse than raw ADC at the same k, because ADC's
  // top-k is a subset of the shortlist and any true-top-k member inside
  // the shortlist must out-rank (exact score, id tiebreak — brute's own
  // comparator) all but < k candidates there. `refine_never_worse` is
  // pinned true by the oracle; a broken refine path goes hash-red.
  //
  // Scale: the shortlist join fetches L full vectors per query by
  // vec_id — at 100 TB that is the point-lookup read pattern (row-group
  // skip on a vec_id-sorted layout), Σ L·k bytes per query batch,
  // nothing corpus-sized beyond the ADC scan n9 already costs.
  // ---------------------------------------------------------------------
  val ShortlistL = 50

  def pqRerankRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    val recon = e.select(col("vec_id"),
      pqReconstruct(pqCodeCols(col("embedding"))).as("recon"))
    val queries = broadcast(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = recon.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("qv"),
        round(cosine_sim(col("qv"), col("recon")), 6).as("adc"))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= ShortlistL)
    // both top-k arms filter REFINED (the 1:1 vec_id join keeps every
    // shortlist row and its adc_rank, so filtering refined by adc_rank is
    // value-identical to filtering shortlist). Without the eager
    // checkpoint the two consumers re-run the whole ADC pass each —
    // column pruning gives their exchanges different outputs (the adcTop
    // arm drops the rrank window entirely), so ReuseExchange cannot
    // dedup them; the NQueries·L-row (tiny at any corpus size) refined
    // relation is the natural cut point (§2.1; the d12 mined-pairs
    // pattern — EAGER, so concurrent consumers can't race the DAG).
    // Measured: two serial ~380 ms stages of 2000 reconstructions each
    // → one.
    val refined = shortlist
      .join(e.select(col("vec_id"), col("embedding").as("cv")), "vec_id")
      .withColumn("exact", round(cosine_sim(col("qv"), col("cv")), 6))
      .withColumn("rrank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("exact").desc, col("vec_id"))))
      .select(col("query_id"), col("vec_id"), col("adc_rank"), col("rrank"))
      .localCheckpoint(true)
    val adcTop = refined.filter(col("adc_rank") <= TopK)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit_adc"))
    val refTop = refined.filter(col("rrank") <= TopK)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit_ref"))
    annBruteForce(spark, dir)
      .select(col("query_id"), col("vec_id"))
      .join(adcTop, Seq("query_id", "vec_id"), "left")
      .join(refTop, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_expected"),
        sum(coalesce(col("hit_adc"), lit(0))).cast("long").as("n_hits_adc"),
        sum(coalesce(col("hit_ref"), lit(0))).cast("long")
          .as("n_hits_refined"))
      .select(col("query_id"), col("n_expected"), col("n_hits_adc"),
        col("n_hits_refined"),
        round(col("n_hits_refined").cast("double") / col("n_expected"), 6)
          .as("recall_refined"),
        (col("n_hits_refined") >= col("n_hits_adc")).as("refine_never_worse"))
      .orderBy(col("query_id"))
  }

  val pqRerankRecallSql: String =
    s"""WITH $embCte,
       |$pqReconCtesSql,
       |adc AS (
       | SELECT q.vec_id AS query_id, r.vec_id,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY round(list_cosine_similarity(q.emb, r.r), 6) DESC, r.vec_id) AS adc_rank
       | FROM e q JOIN recon r ON q.vec_id < $NQueries AND r.vec_id <> q.vec_id),
       |short AS (SELECT query_id, vec_id FROM adc WHERE adc_rank <= $ShortlistL),
       |ref AS (
       | SELECT s.query_id, s.vec_id,
       |  row_number() OVER (PARTITION BY s.query_id
       |    ORDER BY round(list_cosine_similarity(qe.emb, ce.emb), 6) DESC, s.vec_id) AS rrank
       | FROM short s JOIN e qe ON qe.vec_id = s.query_id
       | JOIN e ce ON ce.vec_id = s.vec_id)
       |SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_expected,
       | CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_adc,
       | CAST(sum(CASE WHEN rf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_refined,
       | round(sum(CASE WHEN rf.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |   / count(*), 6) AS recall_refined,
       | sum(CASE WHEN rf.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |   >= sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS refine_never_worse
       |FROM ($annBruteForceSql) x
       |LEFT JOIN (SELECT query_id, vec_id FROM adc WHERE adc_rank <= $TopK) a
       |  USING (query_id, vec_id)
       |LEFT JOIN (SELECT query_id, vec_id FROM ref WHERE rrank <= $TopK) rf
       |  USING (query_id, vec_id)
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // N10 — exact MIPS (maximum inner product search) top-k: the recommender
  // scoring shape (user·item, score magnitudes matter) that cosine ANN
  // cannot serve directly — a long vector can out-score a perfectly
  // aligned short one, so MIPS is NOT a metric search (no triangle
  // inequality). Exact form mirrors n1: broadcast queries × one corpus
  // scan through the codegen'd dot kernel, per-query top-k as a
  // row_number cut.
  //
  // The 100 TB path is the REDUCTION, not a new index: norm-augmentation
  // (Bachrach et al. 2014 / Shrivastava-Li 2014) appends
  // sqrt(M² − ‖x‖²) to every item (M = max item norm) and 0 to every
  // query, making augmented-cosine order per query IDENTICAL to inner-
  // product order — so the existing n3/n4/n5 index machinery serves MIPS
  // unchanged. [[mipsAugment]] builds that view; the equivalence is
  // pinned in PqSpec and the M constant is one tiny max-aggregate.
  // ---------------------------------------------------------------------
  def mipsTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    val queries = broadcast(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id"))
    e.join(queries, col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        round(dot_product(col("qv"), col("embedding")), 6).as("dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  val mipsTopKSql: String =
    s"""WITH nz AS (SELECT * FROM embeddings WHERE $nonZeroSql)
       |SELECT query_id, vec_id, dot, rank FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |  round(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS dot,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY round(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS rank
       | FROM nz q JOIN nz c ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id) t
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin.replace('\n', ' ')

  /** The MIPS→cosine reduction view over any (vec_id, embedding) frame:
    * items gain sqrt(M² − ‖x‖²) as a last component (M ≥ every item
    * norm), queries gain 0. Augmented-item norms are all exactly M, so
    * per-query cosine order over this view equals inner-product order —
    * point n3/n4/n5 at `aug` and they serve MIPS unchanged. `m` is
    * max(‖x‖) over the corpus: one tiny aggregate the caller computes
    * once and passes in (a deployment persists it with the index).
    */
  def mipsAugment(items: DataFrame, m: Double): DataFrame =
    items.withColumn("embedding",
      concat(col("embedding"), array(
        sqrt(greatest(lit(m * m) -
          dot_product(col("embedding"), col("embedding")), lit(0.0)))
          .cast("float"))))

  // ---------------------------------------------------------------------
  // N11 — FILTERED ANN (the retrieval-with-metadata pattern every RAG
  // serving layer runs): top-k cosine among only the vectors whose
  // DOCUMENT passes a metadata predicate. Strategy is PRE-filter: the
  // allowed-id set semi-joins the vector corpus BEFORE any scoring, so
  // the kernel touches selectivity·n vectors and top-k can never starve —
  // the POST-filter alternative (score global top-k, then filter) returns
  // < k results whenever fewer than k of the global top-k pass, and
  // re-probing to fill the gap is the classic filtered-ANN failure mode.
  //
  // Scale shape: the predicate side reduces to an 8-byte id relation, so
  // the semi-join shuffles ids, never vectors or text; AQE picks
  // broadcast when the filter is selective. When the predicate lives ON
  // the vector table itself (the `label` column), the join disappears
  // entirely — [[annFilteredByLabel]] pushes the predicate into the
  // parquet scan (PushedFilters; asserted in spec), the cheapest form.
  // At IVF scale the same pre-filter composes with n4: probe NProbe
  // buckets, semi-join bucket members against the id set, score the
  // survivors.
  // ---------------------------------------------------------------------
  /** n11's gate predicate: a mid-selectivity language slice (~14% of the
    * fixture corpus) — selective enough that post-filter would starve,
    * populated at every SF.
    */
  val FilterLang = "de"

  /** Shared scoring tail of every exact top-k arm: broadcast queries ×
    * one candidate scan through the codegen'd kernel, per-query window
    * top-k (ties break on candidate id; 6-dp rounding so both engines
    * rank identically).
    */
  private def topKAgainst(candidates: DataFrame, queries: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    candidates.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("embedding")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  /** n11: top-k over the sub-corpus whose documents satisfy `docPred`.
    * Queries come from the UNfiltered corpus — a probe vector searches a
    * restricted candidate set, it does not itself need to qualify.
    */
  def annFilteredBy(docPred: org.apache.spark.sql.Column)(
      spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    val allowed = Catalog.documents(spark, dir)
      .filter(docPred).select(col("doc_id").as("vec_id"))
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    topKAgainst(e.join(allowed, Seq("vec_id"), "left_semi"), queries)
  }

  def annFiltered(spark: SparkSession, dir: String): DataFrame =
    annFilteredBy(col("lang") === FilterLang)(spark, dir)

  /** The zero-join form when the predicate lives on the vector table
    * itself: `label = lbl` pushes into the parquet scan (PushedFilters),
    * so filtered search costs one pruned scan — no id relation, no join.
    */
  def annFilteredByLabel(lbl: Int)(spark: SparkSession, dir: String): DataFrame = {
    val e = nonZeroEmbeddings(spark, dir)
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    topKAgainst(e.filter(col("label") === lbl), queries)
  }

  val annFilteredSql: String =
    s"""WITH nz AS (SELECT * FROM embeddings WHERE $nonZeroSql),
       |allowed AS (SELECT doc_id FROM documents WHERE lang = '$FilterLang')
       |SELECT query_id, vec_id, cosine, rank FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |  round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS rank
       | FROM nz q JOIN nz c ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id
       | JOIN allowed a ON a.doc_id = c.vec_id) t
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin.replace('\n', ' ')

  /** N13 oracle: regenerate the LCG centroids and the argmax assignment
    * (n4's dq CTE), derive epochs from the delta modulus, then c4's
    * integer-exact chi-square tail over the centroid × epoch cells.
    */
  val ivfDriftSql: String =
    s"""WITH ${centroidLcgCteSql("ctrs")},
       |$embCte,
       |dq AS (SELECT e.vec_id, ct.c,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_inner_product(e.emb, ct.v) DESC, ct.c DESC) AS rk
       | FROM e, ctrs ct),
       |cells AS (
       | SELECT c AS x,
       |  CASE WHEN vec_id % $IvfDeltaMod = 0 THEN 'delta' ELSE 'existing' END AS y,
       |  count(*)::BIGINT AS o
       | FROM dq WHERE rk = 1 GROUP BY 1, 2),
       |xs AS (SELECT x, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY x),
       |ys AS (SELECT y, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY y),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
       |grid AS (
       | SELECT xs.x, ys.y, xs.r, ys.c, tot.n, COALESCE(cells.o, 0) AS o
       | FROM xs CROSS JOIN ys CROSS JOIN tot
       | LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y),
       |u AS (SELECT *, o*n - r*c AS dev FROM grid)
       |SELECT CAST(max(n) AS BIGINT) AS n,
       | count(DISTINCT x)::BIGINT AS n_x,
       | count(DISTINCT y)::BIGINT AS n_y,
       | CAST((count(DISTINCT x) - 1) * (count(DISTINCT y) - 1) AS BIGINT) AS dof,
       | CAST(sum(CAST(round(CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE) * 1000000.0
       |  / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)), 0) AS BIGINT)) AS BIGINT) AS chi2_ppm
       |FROM u""".stripMargin.replace('\n', ' ')

  val all: Seq[Q] = Seq(
    Q("n13_ivf_drift", ivfDrift, Some(ivfDriftSql),
      "n12's refit trigger: c4's integer-exact chi-square over the maintained index's centroid x epoch cells — quantizer-distribution drift of the arrival batch as one accounting row (training-data extension)"),
    Q("n17_ivf_compact", annIvfCompact, Some(annIvfCompactSql),
      "threshold-triggered tombstone COMPACTION (the FAISS merge / " +
        "Lucene segment-merge lifecycle n16 defers to): past the " +
        "tombstone-fraction trigger the lists rewrite once without " +
        "deleted members (persisted artifact generation) and the delete " +
        "set resets; serve identity across the compaction, recall vs the " +
        "post-delete rebuild, and n_after (engine counts the ARTIFACT, " +
        "oracle computes n_before - n_deleted) pinned as data " +
        "(training-data extension)"),
    Q("n16_ivf_deletes", annIvfDeletes, Some(annIvfDeletesSql),
      "tombstone-aware IVF serve (the FAISS IDSelector / Lucene live-docs " +
        "discipline): deletes anti-joined against the maintained lists " +
        "BEFORE rerank, no list rewrite; under the frozen quantizer the " +
        "result must equal a post-delete full rebuild — recall 1.0 and " +
        "no_deleted_served pinned as data by an oracle that rebuilds " +
        "from scratch in SQL (training-data extension)"),
    Q("n12_incremental_ivf", annIvfIncremental, Some(annIvfSql),
      "O(delta) IVF maintenance (b8's pattern for vectors): persisted inverted lists + frozen-quantizer assignment of the arrival slice only; the maintained view serves n4's probe and the oracle is the full rebuild (training-data extension)"),
    Q("n11_filtered_ann", annFiltered, Some(annFilteredSql),
      s"filtered ANN (the RAG metadata-predicate pattern): PRE-filter semi-join of the allowed-id relation before any scoring — post-filter starves below k; ids shuffle, vectors never do; label-predicate form pushes into the scan with zero join (training-data extension)"),
    Q("n10_mips", mipsTopK, Some(mipsTopKSql),
      "exact maximum-inner-product top-k (recommender scoring): broadcast queries x one corpus scan through the codegen'd dot kernel; norm-augmentation reduction (mipsAugment) lets the n3/n4/n5 cosine indexes serve MIPS unchanged at scale (training-data extension)"),
    Q("n9_pq_adc", pqAdcRecall, Some(pqAdcRecallSql),
      "product quantization (8 subspaces x 16 codewords, 32x compression) + asymmetric-distance top-k, per-query recall vs the exact n1 baseline in exact integer accounting"),
    Q("n8_semantic_decontam", semanticDecontam, Some(semanticDecontamSql),
      s"embedding-space decontamination: max cosine of each corpus vector vs a broadcast eval slice, flagged at $DecontamThreshold — the semantic twin of x7 (training-data extension)"),
    Q("n7_ann_recall", annRecall, Some(annRecallSql),
      "ANN index acceptance: exact-integer recall of n3/n4/n5 against the n1 brute-force top-K (training-data extension)"),
    Q("n6_quantize_int8", quantizeInt8, Some(quantizeInt8Sql),
      "int8 scalar quantization (SQ8) of the embedding corpus: per-vector scale + exact integer checksums, zero-shuffle map work (training-data extension)"),
    Q("n1_ann_brute", annBruteForce, Some(annBruteForceSql),
      "brute-force cosine top-k, codegen'd kernel (training-data extension)"),
    Q("n2_cosine_pairs", cosinePairs, Some(cosinePairsSql),
      "exact high-cosine pair mining (training-data extension)"),
    Q("n3_ann_lsh", annLsh, Some(annLshSql),
      "random-hyperplane LSH bucketed ANN, deterministic — exact SQL oracle regenerates the planes (training-data extension)"),
    Q("n4_ann_ivf", annIvf, Some(annIvfSql),
      s"IVF coarse-quantizer ANN, NProbe=$NProbe of $NCentroids centroids — exact SQL oracle regenerates the centroids (training-data extension)"),
    Q("n5_ann_ivf_kmeans", annIvfKmeans, Some(annIvfKmeansSql),
      s"IVF ANN over a fitted deterministic spherical k-means quantizer ($KmeansIters Lloyd iterations) — oracle unrolls the fit in SQL (training-data extension)"),
    Q("n14_ivfpq_recall", ivfPqRecall, Some(ivfPqRecallSql),
      "IVF-PQ composed (the FAISS IndexIVFPQ billion-scale layout): IVF " +
        "probing bounds WHICH vectors a query touches, PQ codes bound " +
        "WHAT is read per vector (32x), ADC ranks the probed candidates; " +
        "gate = per-query exact-integer recall vs brute force, measuring " +
        "both loss sources together (training-data extension)"),
    Q("n15_pq_rerank", pqRerankRecall, Some(pqRerankRecallSql),
      "two-stage refine serving (FAISS IndexRefineFlat): ADC shortlist " +
        s"of L=$ShortlistL over the 8-byte codes, full-precision vectors " +
        "fetched for the shortlist ONLY, final top-k on exact cosine — " +
        "per-query refined recall in exact integers plus the structural " +
        "refine-never-worse-than-ADC claim pinned true by the oracle " +
        "(training-data extension)"),
    Q("d14_semdedup", semDedup, Some(semDedupSql),
      "SemDeDup (Abbas et al. 2023): cluster-then-compare semantic dedup " +
        "— n5's fitted k-means restricts exact-cosine pairs to within " +
        "clusters (sum |c|^2 work, linear at fixed cluster size), greedy " +
        "keep-smallest; oracle re-derives the SAME unrolled fit + " +
        "restriction, so the hash proves both (training-data extension)"))
}
