package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog

/** Keyword retrieval over the corpus — the text arm of similarity search
  * (training-data extension; the reference has no text search). BM25 is
  * the standard lexical ranking for corpus QA work: "find the documents
  * most about X" for curation audits, and the retrieval step of
  * retrieval-based decontamination when the benchmark side is a set of
  * keyword probes.
  *
  * Scale shape (the 100 TB lens): the ONLY corpus-sized work is one
  * codegen'd map pass (tokenize + per-doc length) and a posting explode
  * RESTRICTED to the query terms before any shuffle — the grouped tf
  * relation is O(matching docs × query terms), thousands of rows, not
  * corpus-sized. Corpus stats (N, total tokens) are one
  * map-side-combined aggregate; per-term document frequencies and the
  * stats row join back in as broadcasts. Final top-k is a TakeOrdered,
  * not a global sort.
  *
  * Cross-engine determinism (the x10 lesson — transcendentals are not
  * bit-reproducible): idf is QUANTIZED to whole bits in exact integer
  * arithmetic, idf_bits = floor(log2((N+1)/(df+0.5))) =
  * bitlength((2N+2) div (2df+1)) − 1, which preserves the
  * rare-term-weighs-more ordering. The tf saturation uses Robertson's
  * k1 = 1.2, b = 0.75 as exact rationals (6/5, 3/4): multiplying
  * numerator and denominator by 10·T gives
  *   tf_norm = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)
  * — ONE IEEE division of exactly-representable integers, identical in
  * both engines. Each term's contribution idf_bits·tf_norm is scaled to
  * integer MICRO-POINTS (round half-up at 1e6, same rule both engines
  * for positives), so per-document sums and the top-k cut are exact
  * integer arithmetic end to end.
  */
object Search {

  /** Deterministic probe query for the registered gate entry. */
  val QueryTerms: Seq[String] = Seq("spark", "vector", "merge")
  val TopK = 10

  /** (doc_id, toks, dl) over a (doc_id, text) frame — the shared map pass
    * behind both the direct query and the index build.
    */
  private def withDl(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))

  /** Corpus stats (N docs, T total tokens): map-side partials only. A
    * NULL-text document counts into N (it is corpus mass) and contributes
    * no tokens.
    */
  private def statsOf(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).cast("long").as("n"), sum(col("dl")).as("t"))

  /** One term's score contribution in integer micro-points, over columns
    * (tf, dl, df, n, t) — the determinism kernel shared by every form
    * (see the object doc for the derivation).
    */
  private def contribPpm: Column = {
    val idfBits =
      (length(bin(expr("(2*n + 2) div (2*df + 1)"))) - 1).cast("long")
    val num = (idfBits * lit(22L) * col("tf") * col("t")).cast("double")
    val den = (lit(10L) * col("tf") * col("t") + lit(3L) * col("t") +
      lit(9L) * col("dl") * col("n")).cast("double")
    round(num / den * lit(1000000.0), 0).cast("long")
  }

  /** THE scoring tail, shared by the direct and indexed forms so they
    * cannot diverge: takes a (doc_id, dl, tok, tf) relation already
    * restricted to the query terms, computes df as a window over it (a
    * groupBy re-derivation would re-plan the full corpus scan;
    * the window shuffles only the O(matching docs × terms) rows), scores
    * in integer micro-points, and cuts top-k.
    */
  private def scoreTf(tf: DataFrame, stats: DataFrame, k: Int): DataFrame =
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(stats))
      .withColumn("ppm", contribPpm)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_matched"),
        sum(col("ppm")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)

  /** BM25 top-k over any (doc_id, text) frame (specs inject hand-built
    * corpora). Returns (doc_id, n_terms_matched, score_ppm) — integer
    * micro-points, best first.
    */
  def bm25Of(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val dl = withDl(docs)
    // postings restricted to the query terms BEFORE the shuffle — the tf
    // relation is O(matching docs × terms)
    val tf = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    scoreTf(tf, statsOf(dl), k)
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Of(Catalog.documents(spark, dir), QueryTerms, TopK)

  // ---------------------------------------------------------------------
  // B2 — BM25 off the PERSISTED inverted index (d2's amortized pattern):
  // the full postings relation (tok, doc_id, dl, tf) and the 1-row corpus
  // stats build ONCE per corpus into Scratch and every search reads them.
  // Postings are range-partitioned and sorted by term, so a query's
  // `tok IN (…)` pushes to the parquet scan and row-group min/max stats
  // skip everything but the probed terms — at 100 TB a search touches
  // the few row groups holding its terms, not the corpus. Must return
  // exactly b1's rows (same oracle): the index is derived state, never
  // semantics.
  // ---------------------------------------------------------------------
  private val IndexVersion = "tok-sorted-v1"

  private[operators] def postingsIndex(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.Scratch.materialize(spark, "bm25_postings", IndexVersion, dir) {
      staging =>
        withDl(Catalog.documents(spark, dir))
          .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
          .groupBy(col("tok"), col("doc_id"), col("dl"))
          .agg(count(lit(1)).cast("long").as("tf"))
          .repartitionByRange(col("tok"))
          .sortWithinPartitions(col("tok"))
          .write.parquet(staging)
    }
    graft.Catalog.read(spark, p)
  }

  private[operators] def statsIndex(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.Scratch.materialize(spark, "bm25_stats", IndexVersion, dir) {
      staging =>
        statsOf(withDl(Catalog.documents(spark, dir))).write.parquet(staging)
    }
    graft.Catalog.read(spark, p)
  }

  /** Bench warmup hook: build the postings + stats artifacts so steady-
    * state timings measure search cost, not the one-time index build.
    */
  def prewarmIndexes(spark: SparkSession, dir: String): Unit = {
    postingsIndex(spark, dir)
    statsIndex(spark, dir)
    maxscoreMeta(spark, dir); ()
  }

  def bm25Indexed(spark: SparkSession, dir: String): DataFrame =
    scoreTf(
      postingsIndex(spark, dir).filter(col("tok").isin(QueryTerms: _*)),
      statsIndex(spark, dir), TopK)

  // ---------------------------------------------------------------------
  // B3 — BM25 over a query BATCH: real curation audits score hundreds of
  // probes in one pass, not one. `terms` becomes a (query_id, tok)
  // relation; the scoring kernel is b1/b2's unchanged; the per-query
  // top-k is a rank window the optimizer executes as WindowGroupLimit
  // (per-partition k-heaps map-side, never a global sort). Scale shape:
  // postings restrict to the batch's DISTINCT terms — shared terms are
  // scanned and df-counted ONCE, then fan out to their queries by a
  // broadcast join of the tiny probe relation. The registered entry rides
  // b2's persisted index unchanged (which is the point of having it);
  // [[bm25BatchOf]] is the same tail over an ad-hoc corpus.
  // ---------------------------------------------------------------------
  /** Probe batch for the registered gate entry. */
  val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> QueryTerms,
    2L -> Seq("join", "hash", "stream"),
    3L -> Seq("scan", "filter", "batch", "slow"))

  private def probesOf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    BatchQueries.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "tok")
  }

  /** Batch scoring tail over a (doc_id, dl, tok, tf) relation already
    * restricted to the batch's distinct terms. df is computed BEFORE the
    * probe join — it is a corpus property of the term, and a term shared
    * by two queries must count its documents once, not twice.
    */
  private def scoreTfBatch(tf: DataFrame, probes: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dedupe (query_id, tok): a repeated probe row would double that
    // term's contribution, while the single-query form dedupes via isin —
    // batching must never be a semantics change
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .join(broadcast(probes.distinct()), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("ppm", contribPpm)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_matched"),
        sum(col("ppm")).as("score_ppm"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Batch BM25 over any (doc_id, text) frame + (query_id, tok) probes. */
  def bm25BatchOf(docs: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val dl = withDl(docs)
    val tf = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .join(broadcast(probes.select(col("tok")).distinct()), "tok")
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    scoreTfBatch(tf, probes, statsOf(dl), k)
  }

  def bm25Batch(spark: SparkSession, dir: String): DataFrame = {
    val allTerms = BatchQueries.flatMap(_._2).distinct
    scoreTfBatch(
      postingsIndex(spark, dir).filter(col("tok").isin(allTerms: _*)),
      probesOf(spark), statsIndex(spark, dir), TopK)
  }

  // ---------------------------------------------------------------------
  // B16 — retrieval-quality EVAL: MRR@k of conjunctive containment under
  // the BM25 ranking — n7's measure-don't-guess discipline applied to
  // the lexical arm. Ground truth per probe is SET-retrieval semantics
  // (documents matching ALL the probe's terms — b6's conjunctive
  // contract); the metric asks where the ranked list first surfaces such
  // a document: first_all_terms_rank, the reciprocal rank in exact
  // micro-units (1e6 div rank — no float), and how many all-terms docs
  // made the top-k at all. This is the search-quality regression gate a
  // deployment runs after every scoring/pruning change: b15-style
  // optimizations are provably lossless, but a k1/b parameter retune is
  // not, and this number says what it did to conjunctive recall.
  //
  // Plan: pure post-processing of b3's ranked relation (k rows per
  // probe) joined to the probe-size literal — truth membership inside
  // the top-k is decidable from b3's own n_terms_matched column, so the
  // eval adds ZERO corpus passes; probes with no all-terms doc in the
  // top-k report rank -1 / rr 0 (accounting, not absence), zero-filled
  // from the probe relation so even an empty corpus reports every probe.
  // ---------------------------------------------------------------------
  /** The eval tail over any b3-shaped ranked relation + a
    * (query_id, n_terms) probe-size relation (spec entry point).
    */
  def mrrEvalOf(ranked: DataFrame, nt: DataFrame): DataFrame = {
    val hits = ranked
      .join(broadcast(nt), "query_id")
      .filter(col("n_terms_matched") === col("n_terms"))
      .groupBy(col("query_id"))
      .agg(min(col("rank")).as("fr"),
        count(lit(1)).as("n_allterm_in_topk"))
    nt.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_terms"),
        coalesce(col("fr"), lit(-1L)).as("first_all_terms_rank"),
        coalesce(col("n_allterm_in_topk"), lit(0L)).as("n_allterm_in_topk"),
        when(col("fr").isNotNull, expr("1000000L div fr"))
          .otherwise(lit(0L)).as("rr_micro"))
      .orderBy(col("query_id"))
  }

  def mrrEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nt = BatchQueries
      .map { case (q, ts) => (q, ts.distinct.size.toLong) }
      .toDF("query_id", "n_terms")
    mrrEvalOf(bm25Batch(spark, dir), nt)
  }

  // lazy: composes bm25BatchSql, which is declared LATER in this object —
  // a strict val here reads null at init order (observed as `b AS (null)`)
  lazy val mrrEvalSql: String = {
    val ntRows = BatchQueries
      .map { case (q, ts) => s"(CAST($q AS BIGINT), CAST(${ts.distinct.size} AS BIGINT))" }
      .mkString(", ")
    s"""WITH nt(query_id, n_terms) AS (VALUES $ntRows),
       |b AS ($bm25BatchSql),
       |h AS (
       | SELECT b.query_id, min(b.rank) AS fr, count(*)::BIGINT AS hits
       | FROM b JOIN nt USING (query_id)
       | WHERE b.n_terms_matched = nt.n_terms
       | GROUP BY b.query_id)
       |SELECT nt.query_id, nt.n_terms,
       | CAST(coalesce(h.fr, -1) AS BIGINT) AS first_all_terms_rank,
       | coalesce(h.hits, 0) AS n_allterm_in_topk,
       | CAST(CASE WHEN h.fr IS NOT NULL THEN 1000000 // h.fr ELSE 0 END
       |  AS BIGINT) AS rr_micro
       |FROM nt LEFT JOIN h USING (query_id)
       |ORDER BY nt.query_id""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B15 — MaxScore-pruned top-k (Turtle & Flood 1995, the static
  // essential-terms variant): dynamic pruning for disjunctive top-k —
  // the standard trick every production engine (Lucene's WAND/MaxScore,
  // Tantivy, PISA) applies so a query containing one stopword-frequency
  // term doesn't score that term's entire posting list. LOSSLESS by
  // construction, so the gate oracle is b1's exact SQL unchanged (the
  // b2/d6 rule: pruning is an execution strategy, never semantics).
  //
  // Mechanics, all relational and all over tiny term-sized relations:
  // (1) per-term upper bound ub = max single-doc contribution (one
  // grouped max over the already-term-restricted postings); (2) a seed
  // threshold θ = the exact k-th best FULL score among documents
  // containing the highest-ub term (TakeOrdered over one posting list —
  // the rarest-strongest term by construction of ub); (3) terms whose
  // ascending-ub cumulative sum stays STRICTLY below θ are non-essential:
  // a document matching only those terms scores ≤ that cumulative bound
  // < θ, and the k seed documents already beat it strictly, so it cannot
  // enter the top-k under any tiebreak. Candidates = documents matching
  // ≥ 1 essential term; they get their FULL exact score (df from the
  // unrestricted term postings — restricting df would change semantics).
  // Fewer than k seed documents ⇒ θ = −1 ⇒ every term essential ⇒
  // plain b1 (no prune without a certified floor).
  //
  // Scale shape: the pruned term's posting list is never joined into the
  // candidate set — at 100 TB with a skewed vocabulary that list is the
  // scan (millions of docs for a boilerplate token vs thousands for the
  // discriminative terms); everything else here is ≤ |terms| rows or
  // one-posting-sized, and the final scoring inherits b2's
  // pushed-filter index read.
  // ---------------------------------------------------------------------

  /** (doc_id, tok, ppm) with df from the FULL term-restricted relation —
    * the scoring atoms MaxScore prunes over. The df window shuffles the
    * term-restricted tf relation by tok (b1's documented shape) — the
    * ad-hoc-corpus form; the INDEXED gate entry replaces this window
    * with [[maxscoreMeta]]'s per-term metadata join and shuffles nothing
    * before the candidate aggregation.
    */
  private def scoredAtoms(tf: DataFrame, stats: DataFrame): DataFrame =
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(stats))
      .withColumn("ppm", contribPpm)
      .select(col("doc_id"), col("tok"), col("ppm"))

  /** Per-term index METADATA (tok, df, ub): document frequency and the
    * maximum single-document score contribution, persisted build-once
    * beside the postings (what Lucene stores as per-term max impact for
    * MaxScore/WAND). At query time df and the upper bounds come from
    * ≤ |terms| pushed-filter metadata rows instead of a df WINDOW over
    * the term-restricted postings — the window is a shuffle of every
    * matching (doc, term) row by tok, and for a stopword-frequency term
    * that shuffle is corpus-sized; with the metadata join the b15 plan
    * moves NOTHING before the candidate-sized aggregation (scan-side
    * broadcast joins only).
    */
  private[operators] def maxscoreMeta(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.Scratch.materialize(spark, "bm25_maxscore_meta",
      IndexVersion, dir) { staging =>
      val postings = postingsIndex(spark, dir)
      val stats = statsIndex(spark, dir)
      postings
        .join(postings.groupBy(col("tok")).agg(count(lit(1)).as("df")), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("ppm", contribPpm)
        .groupBy(col("tok"))
        .agg(max(col("df")).as("df"), max(col("ppm")).as("ub"))
        .repartitionByRange(col("tok"))
        .sortWithinPartitions(col("tok"))
        .write.parquet(staging)
    }
    graft.Catalog.read(spark, p)
  }

  /** The MaxScore candidate set over explicit scoring atoms
    * (doc_id, tok, ppm) and a per-term upper-bound relation (tok, ub):
    * docs matching at least one essential term. Every non-atom relation
    * here is ≤ |terms| rows or one-posting-sized.
    */
  private def maxscoreCandidatesFrom(spark: SparkSession,
      scored: DataFrame, ub: DataFrame, k: Int): DataFrame = {
    val seedTok = ub.orderBy(col("ub").desc, col("tok")).limit(1)
      .select(col("tok"))
    val seedDocs = scored.join(broadcast(seedTok), "tok")
      .select(col("doc_id")).distinct()
    // exact k-th best full score among seed docs — TakeOrdered, then the
    // min of the kept k; an under-full seed set certifies nothing (θ=−1)
    val seedKth = scored.join(broadcast(seedDocs), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("ppm")).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(k)
      .agg(count(lit(1)).as("c"), min(col("s")).as("m"))
      .filter(col("c") === k).select(col("m").as("theta"))
    val theta = seedKth
      .unionByName(spark.range(1).select(lit(-1L).as("theta")))
      .agg(max(col("theta")).as("theta"))
    // ascending-(ub, tok) prefix sums over the ≤ |terms|-row bound
    // relation via a broadcast triangular self-join — |terms|² ≤ a few
    // dozen rows, and it keeps the gate plan entirely WINDOW-free (a
    // single-partition window would be harmless here but MaxScoreSpec
    // pins "no Window operator" as the no-shuffle-before-candidates
    // proof, so the tiny arithmetic uses joins like everything else)
    val ubB = ub.select(col("tok").as("tok2"), col("ub").as("ub2"))
    val essential = ub
      .join(broadcast(ubB),
        col("ub2") < col("ub") ||
          (col("ub2") === col("ub") && col("tok2") <= col("tok")))
      .groupBy(col("tok")).agg(sum(col("ub2")).as("cum"))
      .crossJoin(broadcast(theta))
      .filter(col("cum") >= col("theta")) // strictly-below-θ prefix prunes
      .select(col("tok"))
    scored.join(broadcast(essential), "tok").select(col("doc_id")).distinct()
  }

  /** The candidate documents MaxScore actually scores — the window-df
    * ad-hoc form (private[operators] so the spec can assert the prune is
    * real, not vacuous).
    */
  private[operators] def maxscoreCandidates(
      tf: DataFrame, stats: DataFrame, k: Int): DataFrame = {
    val scored = scoredAtoms(tf, stats)
    maxscoreCandidatesFrom(tf.sparkSession, scored,
      scored.groupBy(col("tok")).agg(max(col("ppm")).as("ub")), k)
  }

  /** The shared top-k tail over atoms + a candidate set. */
  private def maxscoreTail(scored: DataFrame, candidates: DataFrame,
      k: Int): DataFrame =
    scored
      .join(candidates, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_matched"),
        sum(col("ppm")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)

  /** MaxScore over any (doc_id, text) frame — the spec-facing ad-hoc
    * form (df via the window; the gate entry rides the metadata
    * artifact instead).
    */
  def bm25MaxScoreOf(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val dl = withDl(docs)
    val tf = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val scored = scoredAtoms(tf, statsOf(dl))
    maxscoreTail(scored,
      maxscoreCandidates(tf, statsOf(dl), k), k)
  }

  /** The gate entry — b15 off the persisted index + per-term metadata:
    * df and the upper bounds come from ≤ |terms| pushed metadata rows
    * ([[maxscoreMeta]]), so the plan has NO df window and NO shuffle of
    * posting rows before the candidate-sized aggregation — scan-side
    * broadcast joins only (SearchSpec/MaxScoreSpec assert the
    * window-free plan and b2-equality).
    */
  def bm25MaxScore(spark: SparkSession, dir: String): DataFrame = {
    val meta = maxscoreMeta(spark, dir)
      .filter(col("tok").isin(QueryTerms: _*))
    val scored = postingsIndex(spark, dir)
      .filter(col("tok").isin(QueryTerms: _*))
      .join(broadcast(meta.select(col("tok"), col("df"))), "tok")
      .crossJoin(broadcast(statsIndex(spark, dir)))
      .withColumn("ppm", contribPpm)
      .select(col("doc_id"), col("tok"), col("ppm"))
    maxscoreTail(scored,
      maxscoreCandidatesFrom(spark, scored,
        meta.select(col("tok"), col("ub")), TopK), TopK)
  }

  val bm25TopKSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM documents),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($terms) GROUP BY doc_id, dl, tok),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |scored AS (
       | SELECT tf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf JOIN dfreq USING (tok), stats)
       |SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
       | CAST(sum(ppm) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT $TopK""".stripMargin.replace('\n', ' ')
  }

  val bm25BatchSql: String = {
    val probeRows = BatchQueries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val allTerms = BatchQueries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH probes(query_id, tok) AS (VALUES $probeRows),
       |dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM documents),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($allTerms) GROUP BY doc_id, dl, tok),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |scored AS (
       | SELECT p.query_id, tf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf JOIN dfreq USING (tok) JOIN probes p USING (tok), stats),
       |agg AS (
       | SELECT query_id, doc_id, count(*)::BIGINT AS n_terms_matched,
       |  CAST(sum(ppm) AS BIGINT) AS score_ppm
       | FROM scored GROUP BY query_id, doc_id),
       |ranked AS (
       | SELECT *, row_number() OVER (
       |  PARTITION BY query_id ORDER BY score_ppm DESC, doc_id)::BIGINT AS rank
       | FROM agg)
       |SELECT query_id, doc_id, n_terms_matched, score_ppm, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B4 — exact PHRASE search: "these tokens, consecutively" — the classic
  // retrieval step BM25's bag-of-words scoring cannot express (b1 ranks a
  // doc containing "scan ... table" identically to one containing
  // "table scan"). Positional postings via one `posexplode` map pass,
  // pruned to the phrase's terms BEFORE any shuffle, then the Lucene
  // phrase-query shape re-expressed relationally: word i at position p
  // anchors an occurrence at p − i, so an exact occurrence is an
  // EQUI-join of the per-word posting arms on (doc_id, anchor) — no
  // positional inequality, no window, no per-doc array crunching at
  // match time. Engines disagree on position BASE (posexplode is
  // 0-based, DuckDB ordinality 1-based) but anchors only ever meet
  // anchors from the same engine — only doc_id and counts cross the
  // hash compare.
  //
  // Scale: the join arms are each O(df(word)) rows of 16 bytes; a
  // deployment persists the positional postings exactly like b2's
  // (tok-sorted, partition-pruned) relation — same Scratch discipline,
  // positions are one extra INT column.
  // ---------------------------------------------------------------------
  val Phrase: Seq[String] = Seq("table", "scan")

  def phraseSearchOf(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    val pos = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase: _*))
    val arms = phrase.zipWithIndex.map { case (w, i) =>
      pos.filter(col("tok") === w)
        .select(col("doc_id"), (col("pos") - i).as("anchor"))
    }
    arms.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("doc_id"))
  }

  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearchOf(graft.Catalog.documents(spark, dir), Phrase)

  val phraseSearchSql: String = {
    val arms = Phrase.zipWithIndex.map { case (w, i) =>
      s"(SELECT doc_id, pos - $i AS anchor FROM toks WHERE tok = '$w')"
    }
    val joined = arms.head + arms.tail
      .map(a => s" JOIN $a USING (doc_id, anchor)").mkString
    s"""WITH base AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       | FROM documents WHERE text IS NOT NULL),
       |idx AS (
       | SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos FROM base),
       |toks AS (SELECT doc_id, tk[pos] AS tok, pos FROM idx)
       |SELECT doc_id, count(*) AS n_occurrences
       |FROM $joined
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B5 — proximity (within-window) search: "A then B within W tokens" —
  // phrase search's relaxation, the NEAR operator. The naive positional
  // predicate (b.pos − a.pos BETWEEN 1 AND W) is a band NON-equi join
  // Spark would plan as a nested loop, so the j9/RangeJoinRewrite grid
  // discipline applies to TOKEN POSITIONS: bucket positions by W, the
  // second arm registers in its own cell and the one below (a band of
  // width W crosses at most one cell boundary), and the join is a plain
  // (doc_id, cell) EQUI-join with the exact predicate as residual. Each
  // qualifying pair matches exactly one of the two cells — no dedup
  // needed. Arms are posting-pruned before the shuffle, b4's property.
  // ---------------------------------------------------------------------
  val ProxFirst = "table"
  val ProxSecond = "merge"
  val ProxWindow = 4

  def proximitySearchOf(docs: DataFrame, first: String, second: String,
      window: Int): DataFrame = {
    val pos = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val a = pos.filter(col("tok") === first)
      .select(col("doc_id"), col("pos").as("pa"),
        floor(col("pos") / window).as("cell"))
    val b = pos.filter(col("tok") === second)
      .select(col("doc_id"), col("pos").as("pb"),
        explode(array(floor(col("pos") / window),
          floor(col("pos") / window) - 1)).as("cell"))
    a.join(b, Seq("doc_id", "cell"))
      .filter(col("pb") - col("pa") >= 1 && col("pb") - col("pa") <= window)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("doc_id"))
  }

  def proximitySearch(spark: SparkSession, dir: String): DataFrame =
    proximitySearchOf(graft.Catalog.documents(spark, dir),
      ProxFirst, ProxSecond, ProxWindow)

  val proximitySearchSql: String =
    s"""WITH base AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       | FROM documents WHERE text IS NOT NULL),
       |idx AS (
       | SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos FROM base),
       |toks AS (SELECT doc_id, tk[pos] AS tok, pos FROM idx),
       |a AS (SELECT doc_id, pos FROM toks WHERE tok = '$ProxFirst'),
       |b AS (SELECT doc_id, pos FROM toks WHERE tok = '$ProxSecond')
       |SELECT a.doc_id, count(*) AS n_pairs
       |FROM a JOIN b ON a.doc_id = b.doc_id
       | AND b.pos - a.pos BETWEEN 1 AND $ProxWindow
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // B6 — BOOLEAN retrieval: MUST terms (all required) + MUST-NOT terms
  // (any disqualifies), survivors ranked by BM25 over the MUST terms.
  // The classic filtered-query shape (Lucene's BooleanQuery with
  // MUST/MUST_NOT clauses) b1's pure bag-of-words top-k cannot express.
  //
  // Semantics pinned here: df stays the CORPUS document frequency of each
  // term (scoring is a corpus property; the boolean filter selects
  // documents, it does not re-weigh terms), so the df window runs over
  // the unfiltered must-term postings and eligibility filters AFTER.
  //
  // Scale shape: every arm is posting-pruned — the must/must-not posting
  // slices are O(df(term)) rows read off b2's term-sorted index
  // (tok IN (…) pushes to the scan); eligibility is a tiny
  // countDistinct==|must| cut anti-joined against the must-not doc set;
  // the corpus is never rescanned.
  // ---------------------------------------------------------------------
  val MustTerms: Seq[String] = Seq("spark", "stream")
  val MustNotTerms: Seq[String] = Seq("dup")

  /** Boolean-filtered BM25 over any (doc_id, text) frame. Returns
    * (doc_id, n_terms_matched, score_ppm), best first, top-k.
    */
  def booleanSearchOf(docs: DataFrame, must: Seq[String],
      mustNot: Seq[String], k: Int): DataFrame = {
    val dl = withDl(docs)
    val tf = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(must ++ mustNot: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    booleanTail(tf, statsOf(dl), must, mustNot, k)
  }

  /** The boolean scoring tail over a (doc_id, dl, tok, tf) relation
    * already restricted to must ∪ mustNot — shared by the ad-hoc and
    * indexed forms so they cannot diverge.
    */
  private def booleanTail(tf: DataFrame, stats: DataFrame,
      must: Seq[String], mustNot: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus df BEFORE any eligibility filtering (see object doc)
    val mustTf = tf.filter(col("tok").isin(must: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
    // a duplicated must term is ONE requirement, not two: the tf relation
    // is per-distinct-token, so the completeness cut must compare against
    // the DISTINCT term count or a duplicate would silently empty the
    // result
    val hasAll = mustTf.groupBy(col("doc_id"))
      .agg(countDistinct(col("tok")).as("nt"))
      .filter(col("nt") === must.distinct.size).select(col("doc_id"))
    val blocked = tf.filter(col("tok").isin(mustNot: _*))
      .select(col("doc_id")).distinct()
    val eligible = hasAll.join(blocked, Seq("doc_id"), "left_anti")
    mustTf.join(eligible, Seq("doc_id"), "left_semi")
      .crossJoin(broadcast(stats))
      .withColumn("ppm", contribPpm)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_matched"),
        sum(col("ppm")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)
  }

  /** Registered entry: rides b2's persisted postings + stats artifacts. */
  def booleanSearch(spark: SparkSession, dir: String): DataFrame =
    booleanTail(
      postingsIndex(spark, dir)
        .filter(col("tok").isin(MustTerms ++ MustNotTerms: _*)),
      statsIndex(spark, dir), MustTerms, MustNotTerms, TopK)

  val booleanSearchSql: String = {
    val mustIn = MustTerms.map(t => s"'$t'").mkString(", ")
    val notIn = MustNotTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM documents),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($mustIn, $notIn) GROUP BY doc_id, dl, tok),
       |mtf AS (SELECT * FROM tf WHERE tok IN ($mustIn)),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM mtf GROUP BY tok),
       |has_all AS (SELECT doc_id FROM mtf GROUP BY doc_id
       | HAVING count(DISTINCT tok) = ${MustTerms.size}),
       |blocked AS (SELECT DISTINCT doc_id FROM tf WHERE tok IN ($notIn)),
       |eligible AS (SELECT doc_id FROM has_all
       | WHERE doc_id NOT IN (SELECT doc_id FROM blocked)),
       |scored AS (
       | SELECT mtf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM mtf JOIN dfreq USING (tok) JOIN eligible USING (doc_id), stats)
       |SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
       | CAST(sum(ppm) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT $TopK""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B7 — HYBRID retrieval via reciprocal-rank fusion: the RAG-era query
  // shape — one lexical arm (BM25, exact keyword evidence) and one
  // semantic arm (embedding cosine, paraphrase evidence) fused by RRF
  // (Cormack et al. 2009; the Elasticsearch/Vespa hybrid default):
  // score(d) = Σ_arms 1/(k + rank_arm(d)), k = 60. RRF needs only RANKS,
  // never the arms' incomparable score scales — which is also what makes
  // it hash-exact: each arm's contribution is the INTEGER
  // 1000000 div (60 + rank), so fusion is exact integer arithmetic end
  // to end (the b1 micro-points discipline; no float sum, no rounding
  // rule to align).
  //
  // Scale shape: each arm independently produces a depth-HybridK ranking
  // (the lexical arm posting-pruned as b1; the brute semantic arm here
  // is n1's labeled exactness baseline — a deployment swaps in the
  // n3/n4/n5/n9 index arms unchanged, since only ranks cross the fusion
  // boundary). Fusion itself joins two K-row relations — driver-trivial
  // at any corpus size.
  // ---------------------------------------------------------------------
  val HybridK = 20
  val RrfK = 60
  val HybridQueryVec = 0L

  /** Hybrid RRF over explicit (doc_id, text) + (vec_id, embedding)
    * relations sharing one id space (specs inject hand-built corpora).
    */
  def hybridRrfOf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryVec: Long, depth: Int, k: Int): DataFrame = {
    import graft.expressions.VectorFunctions.{cosine_sim, dot_product}
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Of(docs, terms, depth)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val nz = emb.filter(dot_product(col("embedding"), col("embedding")) > 0)
    val qv = broadcast(nz.filter(col("vec_id") === queryVec)
      .select(col("embedding").as("qv")))
    // top-`depth` FIRST (orderBy+limit = TakeOrderedAndProject: per-
    // partition top-k + driver merge), THEN rank the k survivors — the
    // rank is only consumed as a ≤ depth cut over a TOTAL order
    // (doc_id tiebreak), so ranking after the cut is value-identical
    // while the r15 form ran `row_number` over an UNPARTITIONED window
    // spanning the whole embedding corpus: a single-partition sort of a
    // corpus-cardinality relation (guide §2; `WindowExec: No Partition
    // Defined`), the one scale-killer the b-family still carried.
    val sem = nz.filter(col("vec_id") =!= queryVec)
      .crossJoin(qv)
      .select(col("vec_id").as("doc_id"),
        round(cosine_sim(col("qv"), col("embedding")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(depth)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("n_arms",
        (when(col("lex_rank").isNotNull, 1).otherwise(0) +
          when(col("sem_rank").isNotNull, 1).otherwise(0)).cast("long"))
      .withColumn("rrf_ppm",
        (coalesce(expr(s"1000000 div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + sem_rank)"), lit(0L)))
          .cast("long"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)
  }

  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfOf(Catalog.documents(spark, dir),
      Catalog.embeddings(spark, dir), QueryTerms, HybridQueryVec,
      HybridK, TopK)

  val hybridRrfSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM documents),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($terms) GROUP BY doc_id, dl, tok),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |scored AS (
       | SELECT tf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf JOIN dfreq USING (tok), stats),
       |lexagg AS (SELECT doc_id, CAST(sum(ppm) AS BIGINT) AS score_ppm
       | FROM scored GROUP BY doc_id),
       |lex AS (SELECT doc_id, lex_rank FROM (
       |  SELECT doc_id, CAST(row_number() OVER (
       |   ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS lex_rank
       |  FROM lexagg) WHERE lex_rank <= $HybridK),
       |nz AS (SELECT * FROM embeddings
       | WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |q AS (SELECT embedding AS qv FROM nz WHERE vec_id = $HybridQueryVec),
       |sem0 AS (
       | SELECT c.vec_id AS doc_id,
       |  round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
       | FROM nz c, q WHERE c.vec_id <> $HybridQueryVec),
       |sem AS (SELECT doc_id, sem_rank FROM (
       |  SELECT doc_id, CAST(row_number() OVER (
       |   ORDER BY cosine DESC, doc_id) AS BIGINT) AS sem_rank
       |  FROM sem0) WHERE sem_rank <= $HybridK),
       |f AS (
       | SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank
       | FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT doc_id, lex_rank, sem_rank,
       | CAST((CASE WHEN lex_rank IS NULL THEN 0 ELSE 1 END
       |  + CASE WHEN sem_rank IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_arms,
       | CAST(COALESCE(1000000 // ($RrfK + lex_rank), 0)
       |  + COALESCE(1000000 // ($RrfK + sem_rank), 0) AS BIGINT) AS rrf_ppm
       |FROM f ORDER BY rrf_ppm DESC, doc_id LIMIT $TopK""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B8 — INCREMENTAL index maintenance: b2's postings are a persisted
  // artifact precisely because a 100 TB corpus is not re-tokenized per
  // revision batch — so the artifact must be MAINTAINABLE in O(delta),
  // or it decays into a rebuild-nightly liability. The maintained read
  // view is: old postings ANTI-JOIN changed ids (tombstones) UNION the
  // delta's own postings; corpus stats adjust by three delta-local
  // aggregates (docs added, tokens removed, tokens added). Tokenization
  // touches only the delta. By construction the merged view is SET-equal
  // to a full rebuild over the revised corpus (spec-pinned), so every
  // consumer (b1-b7) serves exact results off it unchanged — the gate
  // scores b1's probe over the maintained view against a full-rebuild
  // oracle. Deployment note: production persists the delta as a SEGMENT
  // file plus a tombstone id-set (the Lucene/lakehouse pattern; u2's
  // diff supplies the changed-id set) and compacts periodically — this
  // relation IS that segment-merge read view.
  // ---------------------------------------------------------------------
  /** The deterministic gate delta over the fixture corpus: every 10th
    * document (mod 7) gains a revision suffix (NULL text stays NULL —
    * concat propagates NULL in both engines), and every 50th (mod 3)
    * spawns a brand-new document under a shifted id.
    */
  val RevisionSuffix = " spark spark"
  val AddedIdOffset = 1000000L
  val AddedText = "spark vector merge fresh document"

  private def revisedDocs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), concat(col("text"), lit(RevisionSuffix)).as("text"))

  private def addedDocs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 50 === 3)
      .select((col("doc_id") + AddedIdOffset).as("doc_id"),
        lit(AddedText).as("text"))

  /** The revised corpus the delta produces — what a full rebuild would
    * index (specs diff the incremental view against exactly this).
    */
  private[operators] def revisedCorpus(docs: DataFrame): DataFrame =
    docs.join(revisedDocs(docs).select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
      .unionByName(revisedDocs(docs))
      .unionByName(addedDocs(docs))

  /** (merged postings, merged stats) over base ⊎ delta, touching only
    * delta text: one broadcast anti-join against the changed-id set, one
    * delta tokenization, three 1-row adjustment aggregates.
    */
  private[operators] def incrementalIndex(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Catalog.documents(spark, dir)
    val delta = revisedDocs(docs).withColumn("is_new", lit(0L))
      .unionByName(addedDocs(docs).withColumn("is_new", lit(1L)))
    val deltaDl = delta
      .select(col("doc_id"), col("is_new"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_new"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    val changed = delta.select(col("doc_id"))
    val old = postingsIndex(spark, dir)
    val merged = old.join(broadcast(changed), Seq("doc_id"), "left_anti")
      .unionByName(deltaDl
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .groupBy(col("tok"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).cast("long").as("tf")))
    // stats adjustments: docs never deleted here, so N grows by the adds;
    // T loses the changed docs' OLD lengths (recovered from their posting
    // rows — a token-less doc has no rows and contributed 0) and gains
    // the delta's new lengths
    val removed = old.join(broadcast(changed), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(coalesce(sum(col("dl")), lit(0L)).as("t_removed"))
    val added = deltaDl.agg(
      coalesce(sum(col("is_new")), lit(0L)).as("n_added"),
      coalesce(sum(col("dl")), lit(0L)).as("t_delta"))
    val stats = statsIndex(spark, dir)
      .crossJoin(broadcast(removed)).crossJoin(broadcast(added))
      .select((col("n") + col("n_added")).as("n"),
        (col("t") - col("t_removed") + col("t_delta")).as("t"))
    (merged, stats)
  }

  def bm25IncrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    val (postings, stats) = incrementalIndex(spark, dir)
    scoreTf(postings.filter(col("tok").isin(QueryTerms: _*)), stats, TopK)
  }

  val bm25IncrementalSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH docs2 AS (
       | SELECT doc_id, CASE WHEN doc_id % 10 = 7
       |  THEN text || '$RevisionSuffix' ELSE text END AS text
       | FROM documents
       | UNION ALL
       | SELECT doc_id + $AddedIdOffset AS doc_id, '$AddedText' AS text
       | FROM documents WHERE doc_id % 50 = 3),
       |dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM docs2),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($terms) GROUP BY doc_id, dl, tok),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |scored AS (
       | SELECT tf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf JOIN dfreq USING (tok), stats)
       |SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
       | CAST(sum(ppm) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT $TopK""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B9 — PASSAGE-level BM25 (the RAG serving reality): whole-document
  // scores bury a tight answer inside a long document, so retrieval
  // pipelines score the CHUNK relation (x14's materialization) and
  // return (doc, passage) — the snippet an answer synthesizer actually
  // reads. Pure composition: x14's chunk rows become the "documents" of
  // b1's scoring tail via an invertible packed key
  // pid = doc_id·[[PassagePack]] + chunk_id (chunk counts stay below the
  // pack while a document stays under ~24 M tokens — far beyond x2's own
  // 100 k ceiling), so length normalization, idf, and the top-k cut all
  // operate at passage granularity with ZERO new scoring code — b1's
  // kernel cannot diverge from its single-granularity form. Corpus stats
  // are the passage corpus's (N = passages, T = passage tokens, overlap
  // counted — the standard passage-index convention). Scale shape
  // inherits both parents: chunking is x14's zero-shuffle Generate,
  // scoring shuffles only the term-restricted tf relation; the b2
  // amortization applies unchanged if the chunk postings persist.
  // ---------------------------------------------------------------------
  val PassagePack = 1000000L

  /** b9 core over any (doc_id, text) frame (specs inject hand corpora). */
  def bm25PassagesOf(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    bm25Of(
      TextOps.ragChunksOf(docs)
        .select(
          (col("doc_id") * PassagePack + col("chunk_id")).as("doc_id"),
          col("chunk_text").as("text")),
      terms, k)
      .select(expr(s"doc_id div $PassagePack").as("doc_id"),
        pmod(col("doc_id"), lit(PassagePack)).as("chunk_id"),
        col("n_terms_matched"), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id"), col("chunk_id"))

  def bm25Passages(spark: SparkSession, dir: String): DataFrame =
    bm25PassagesOf(Catalog.documents(spark, dir), QueryTerms, TopK)

  val bm25PassagesSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    val w = TextOps.RagChunkTokens
    val s = TextOps.RagChunkStride
    s"""WITH tt AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM documents WHERE text IS NOT NULL),
       |nn AS (
       | SELECT doc_id, toks,
       |  CASE WHEN len(toks) <= $w THEN 1
       |   ELSE (len(toks) - $w + $s - 1) // $s + 1 END AS n_chunks
       | FROM tt),
       |ch AS (
       | SELECT doc_id, toks,
       |  unnest(generate_series(0, n_chunks - 1))::BIGINT AS chunk_id
       | FROM nn),
       |p AS (
       | SELECT doc_id * $PassagePack + chunk_id AS pid,
       |  string_split_regex(lower(trim(array_to_string(
       |    list_slice(toks, chunk_id * $s + 1, chunk_id * $s + $w), ' '))),
       |    '\\s+') AS toks
       | FROM ch),
       |dl2 AS (SELECT pid, len(toks)::BIGINT AS dl, toks FROM p),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf AS (
       | SELECT pid, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT pid, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($terms) GROUP BY pid, dl, tok),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |scored AS (
       | SELECT tf.pid,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf JOIN dfreq USING (tok), stats),
       |cut AS (
       | SELECT pid, count(*)::BIGINT AS n_terms_matched,
       |  CAST(sum(ppm) AS BIGINT) AS score_ppm
       | FROM scored GROUP BY pid
       | ORDER BY score_ppm DESC, pid LIMIT $TopK)
       |SELECT pid // $PassagePack AS doc_id, pid % $PassagePack AS chunk_id,
       | n_terms_matched, score_ppm
       |FROM cut ORDER BY score_ppm DESC, doc_id, chunk_id"""
      .stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B10 — MORE-LIKE-THIS: the document IS the query (Lucene's MLT, the
  // "related documents" feature every curation UI grows): select the
  // probe document's most DISCRIMINATIVE terms — top [[MltTerms]] by
  // idf_bits × probe-tf, the integer selection twin of b1's scoring —
  // then run the shared BM25 tail over exactly those terms, probe
  // excluded from its own results. Ties in the selection break
  // lexicographically; everything stays in b1's integer arithmetic, so
  // the whole pipeline (selection INCLUDED) is hash-exact cross-engine.
  //
  // The gate runs the TWO-PHASE indexed form (the serving shape): phase
  // 1 collects the probe's own postings rows — bounded by ONE document's
  // vocabulary, query-planning state like n5's centroids — so phase 2's
  // `tok IN (…)` is a compile-time IN-list that pushes to the postings
  // scan exactly as in b2 (row-group skip on the term-sorted layout).
  // df for the FINAL scoring is computed over the probe-excluded tf
  // relation (scoreTf's window), mirrored in the oracle.
  // ---------------------------------------------------------------------
  val MltProbeDoc = 42L
  val MltTerms = 5

  private def idfBitsCol: Column =
    (length(bin(expr("(2*n + 2) div (2*df + 1)"))) - 1).cast("long")

  /** Direct (index-free) form over any (doc_id, text) frame — the spec
    * entry point; must equal [[moreLikeThis]] on the same corpus.
    */
  def moreLikeThisOf(docs: DataFrame, probe: Long, nTerms: Int,
      k: Int): DataFrame = {
    val dl = withDl(docs)
    val stats = statsOf(dl)
    val all = dl.select(col("doc_id"), col("dl"),
      explode(col("toks")).as("tok"))
    val ptoks = all.filter(col("doc_id") === probe)
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("ptf"))
    val alltf = all.join(broadcast(ptoks.select(col("tok"))), "tok")
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfreq = alltf.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("df"))
    val sel = ptoks.join(dfreq, "tok").crossJoin(broadcast(stats))
      .select(col("tok"), (idfBitsCol * col("ptf")).as("w"))
      .orderBy(col("w").desc, col("tok"))
      .limit(nTerms)
    val tf = alltf.join(broadcast(sel.select(col("tok"))), "tok")
      .filter(col("doc_id") =!= probe)
    scoreTf(tf, stats, k)
  }

  /** Gate entry: the two-phase indexed form off b2's artifacts. */
  def moreLikeThis(spark: SparkSession, dir: String): DataFrame = {
    val post = postingsIndex(spark, dir)
    val stats = statsIndex(spark, dir)
    // phase 1: the probe's own postings — bounded by one document's
    // vocabulary (query-planning state, the fittedCentroids discipline)
    val probeRows = post.filter(col("doc_id") === MltProbeDoc)
      .select(col("tok"), col("tf")).collect()
    val probeTerms = probeRows.map(_.getString(0)).toSeq
    val restricted = post.filter(col("tok").isin(probeTerms: _*))
    val dfreq = restricted.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("df"))
    val ptf = probeRows.map(r => (r.getString(0), r.getLong(1))).toSeq
    import post.sparkSession.implicits._
    val sel = dfreq.join(broadcast(ptf.toDF("tok", "ptf")), "tok")
      .crossJoin(broadcast(stats))
      .select(col("tok"), (idfBitsCol * col("ptf")).as("w"))
      .orderBy(col("w").desc, col("tok"))
      .limit(MltTerms)
      .collect().map(_.getString(0)).toSeq
    // phase 2: compile-time IN-list -> pushed scan, b2's skip behavior
    scoreTf(
      restricted.filter(col("tok").isin(sel: _*))
        .filter(col("doc_id") =!= MltProbeDoc),
      stats, TopK)
  }

  val moreLikeThisSql: String =
    s"""WITH dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM documents),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |ptoks AS (
       | SELECT tok, count(*)::BIGINT AS ptf
       | FROM (SELECT unnest(toks) AS tok FROM dl2 WHERE doc_id = $MltProbeDoc)
       | GROUP BY tok),
       |alltf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN (SELECT tok FROM ptoks) GROUP BY doc_id, dl, tok),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM alltf GROUP BY tok),
       |sel AS (
       | SELECT ptoks.tok FROM ptoks JOIN dfreq USING (tok), stats
       | ORDER BY (length(bin((2*n + 2) // (2*df + 1))) - 1) * ptf DESC, ptoks.tok
       | LIMIT $MltTerms),
       |tf AS (
       | SELECT * FROM alltf
       | WHERE tok IN (SELECT tok FROM sel) AND doc_id <> $MltProbeDoc),
       |dfreq2 AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |scored AS (
       | SELECT tf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf JOIN dfreq2 USING (tok), stats)
       |SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
       | CAST(sum(ppm) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT $TopK""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // B13 — right-to-be-forgotten PROPAGATION into the serving index: when
  // consent is revoked for a data source (or a takedown lands), deleting
  // rows from the base table is the easy half — every derived read view
  // must stop serving the content too, and a 100 TB corpus is never
  // re-tokenized for one revocation. This is b8's segment+tombstone
  // pattern specialized to pure REMOVAL:
  //   - maintained postings = full postings anti-joined against the
  //     forgotten doc-id set (an 8-byte-key anti-join, b8's tombstones);
  //   - corpus stats adjusted by three delta-local aggregates over the
  //     forgotten docs THEMSELVES (tokenize only the revoked slice —
  //     never a doc_id filter over the tok-sorted postings, which could
  //     not row-group-skip);
  //   - the gate PROVES propagation end-to-end by scoring b1's probe
  //     over the maintained view: forgotten docs cannot appear, and the
  //     adjusted (N, T) must shift every surviving score exactly as a
  //     from-scratch rebuild would — the oracle recomputes BM25 from
  //     scratch on the kept corpus, so stats drift of even one token
  //     hash-fails.
  // NULL-source docs are KEPT (null never equals the revoked source —
  // the u1/u2 null-semantics rule), mirrored with IS DISTINCT FROM.
  // ---------------------------------------------------------------------
  val ForgetSource = "src3"

  /** The postings relation of an arbitrary (doc_id, text) frame — the
    * index build's body, exposed for the spec's rebuild-equality pin.
    */
  private[operators] def postingsOf(docs: DataFrame): DataFrame =
    withDl(docs)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))

  /** Corpus stats of an arbitrary (doc_id, text) frame — spec hook. */
  private[operators] def statsOfDocs(docs: DataFrame): DataFrame =
    statsOf(withDl(docs))

  /** The forgotten doc-id set + maintained postings + adjusted stats —
    * shared by the gate query and the spec's rebuild-equality pin.
    */
  private[operators] def forgetViews(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Catalog.documents(spark, dir)
    val forgotten = docs.filter(col("source") === ForgetSource)
      .select(col("doc_id"))
    val maintained = postingsIndex(spark, dir)
      .join(forgotten, Seq("doc_id"), "left_anti")
    val delta = statsOf(withDl(docs.filter(col("source") === ForgetSource)))
      .select(col("n").as("dn"), coalesce(col("t"), lit(0L)).as("dt"))
    val adjusted = statsIndex(spark, dir).crossJoin(broadcast(delta))
      .select((col("n") - col("dn")).as("n"), (col("t") - col("dt")).as("t"))
    (forgotten, maintained, adjusted)
  }

  def forgetSearch(spark: SparkSession, dir: String): DataFrame = {
    val (_, maintained, adjusted) = forgetViews(spark, dir)
    scoreTf(maintained.filter(col("tok").isin(QueryTerms: _*)),
      adjusted, TopK)
  }

  val forgetSearchSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH kept AS (
       | SELECT doc_id, text FROM documents
       | WHERE source IS DISTINCT FROM '$ForgetSource'),
       |dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM kept),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($terms) GROUP BY doc_id, dl, tok),
       |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |scored AS (
       | SELECT tf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf JOIN dfreq USING (tok), stats)
       |SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
       | CAST(sum(ppm) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT $TopK""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B12 — PSEUDO-RELEVANCE-FEEDBACK query expansion (Rocchio 1971 /
  // RM-style PRF, Lucene's "relevance feedback"): run the base query,
  // assume the top-F results are relevant, pool their vocabulary, add
  // the E most discriminative new terms, and rescore — the standard fix
  // for vocabulary mismatch (the probe says "spark", relevant docs also
  // say "stream"). Three phases, each in b1's exact integer arithmetic
  // so selection AND scoring are hash-exact cross-engine:
  //   1. base BM25, top-F feedback docs (b1's scoring tail verbatim);
  //   2. pooled feedback-term frequencies (original terms excluded),
  //      expansion weight = idf_bits × pooled-tf (b10's selection twin,
  //      pooled over F docs instead of one probe), top-E, ties
  //      lexicographic;
  //   3. the shared scoring tail over original ∪ expansion terms.
  //
  // Gate = the two-phase serving form off b2's artifacts: the F doc ids
  // and then the feedback docs' pooled vocabulary collect as bounded
  // query-planning state (F point-lookups on documents — pushed on
  // doc_id; NOT a doc_id filter over the tok-sorted postings, which
  // could not skip), so every postings touch is a compile-time
  // `tok IN (…)` that pushes to the term-sorted scan exactly as b2/b10.
  // ---------------------------------------------------------------------
  val PrfFeedbackDocs = 3
  val PrfExpandTerms = 3

  /** Direct (index-free) PRF over any (doc_id, text) frame — the spec
    * entry; must equal [[prfExpansion]] on the same corpus.
    */
  def prfExpansionOf(docs: DataFrame, terms: Seq[String], f: Int, e: Int,
      k: Int): DataFrame = {
    val dl = withDl(docs)
    val stats = statsOf(dl)
    val all = dl.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
    val tf0 = all.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val top = scoreTf(tf0, stats, f).select(col("doc_id"))
    val pooled = all.join(broadcast(top), Seq("doc_id"))
      .filter(!col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("ptf"))
    val alltf = all.join(broadcast(pooled.select(col("tok"))), Seq("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfreq = alltf.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("df"))
    val sel = pooled.join(dfreq, Seq("tok")).crossJoin(broadcast(stats))
      .select(col("tok"), (idfBitsCol * col("ptf")).as("w"))
      .orderBy(col("w").desc, col("tok"))
      .limit(e)
    import docs.sparkSession.implicits._
    val finalTerms = sel.select(col("tok"))
      .unionByName(terms.toDF("tok")).distinct()
    val ftf = all.join(broadcast(finalTerms), Seq("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    scoreTf(ftf, stats, k)
  }

  /** Gate entry: the two-phase indexed form off b2's artifacts. */
  def prfExpansion(spark: SparkSession, dir: String): DataFrame = {
    val post = postingsIndex(spark, dir)
    val stats = statsIndex(spark, dir)
    // phase 1: base-query scoring off the pushed postings slice; the F
    // feedback ids collect as query-planning state
    val topDocs = scoreTf(post.filter(col("tok").isin(QueryTerms: _*)),
        stats, PrfFeedbackDocs)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    // phase 2: the feedback docs' pooled vocabulary — F point-lookups on
    // documents (pushed on doc_id), bounded planning state
    val pooledRows = withDl(Catalog.documents(spark, dir)
        .filter(col("doc_id").isin(topDocs: _*)))
      .select(explode(col("toks")).as("tok"))
      .filter(!col("tok").isin(QueryTerms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("ptf"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val candTerms = pooledRows.map(_._1)
    val restricted = post.filter(col("tok").isin(candTerms: _*))
    val dfreq = restricted.groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("df"))
    import post.sparkSession.implicits._
    val sel = dfreq.join(broadcast(pooledRows.toDF("tok", "ptf")), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("tok"), (idfBitsCol * col("ptf")).as("w"))
      .orderBy(col("w").desc, col("tok"))
      .limit(PrfExpandTerms)
      .collect().map(_.getString(0)).toSeq
    // phase 3: compile-time IN-list over original ∪ expansion terms
    val finalTerms = (QueryTerms ++ sel).distinct
    scoreTf(post.filter(col("tok").isin(finalTerms: _*)), stats, TopK)
  }

  val prfExpansionSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       | FROM documents),
       |dl2 AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM dl),
       |stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS t
       | FROM dl2),
       |tf0 AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($terms) GROUP BY doc_id, dl, tok),
       |dfreq0 AS (SELECT tok, count(*)::BIGINT AS df FROM tf0 GROUP BY tok),
       |scored0 AS (
       | SELECT tf0.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM tf0 JOIN dfreq0 USING (tok), stats),
       |top0 AS (
       | SELECT doc_id, CAST(sum(ppm) AS BIGINT) AS s FROM scored0
       | GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT $PrfFeedbackDocs),
       |pooled AS (
       | SELECT tok, count(*)::BIGINT AS ptf
       | FROM (SELECT unnest(toks) AS tok FROM dl2
       |   WHERE doc_id IN (SELECT doc_id FROM top0))
       | WHERE tok NOT IN ($terms) GROUP BY tok),
       |alltf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN (SELECT tok FROM pooled) GROUP BY doc_id, dl, tok),
       |dfreq1 AS (SELECT tok, count(*)::BIGINT AS df FROM alltf GROUP BY tok),
       |sel AS (
       | SELECT pooled.tok FROM pooled JOIN dfreq1 USING (tok), stats
       | ORDER BY (length(bin((2*n + 2) // (2*df + 1))) - 1) * ptf DESC, pooled.tok
       | LIMIT $PrfExpandTerms),
       |ftf AS (
       | SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       | FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl2)
       | WHERE tok IN ($terms) OR tok IN (SELECT tok FROM sel)
       | GROUP BY doc_id, dl, tok),
       |dfreq2 AS (SELECT tok, count(*)::BIGINT AS df FROM ftf GROUP BY tok),
       |scored AS (
       | SELECT ftf.doc_id,
       |  CAST(round(CAST((length(bin((2*n + 2) // (2*df + 1))) - 1) * 22 * tf * t AS DOUBLE)
       |   / CAST(10*tf*t + 3*t + 9*dl*n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ppm
       | FROM ftf JOIN dfreq2 USING (tok), stats)
       |SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
       | CAST(sum(ppm) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT $TopK""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B11 — SNIPPET localization: the minimal token window containing ALL
  // query terms, with the window's text — the Lucene-highlighter /
  // best-passage primitive every retrieval UI and RAG context-builder
  // runs AFTER ranking (b1 says WHICH document; b11 says WHERE inside
  // it, and hands back the evidence span). Exact minimal-window is the
  // classic sliding-window problem, re-expressed relationally: over the
  // Q-term-pruned positional postings ordered by position, the running
  // per-term MAX position (one window frame per term) gives, at every
  // occurrence, the tightest window ENDING there — least(last_t) is its
  // start. Every minimal window ends at some occurrence, so the per-doc
  // argmin over these candidates (length, then leftmost start — a
  // deterministic tie-break) is the true global minimum.
  //
  // Scale shape: the corpus-sized work is b4's one posexplode map pass,
  // pruned to the query terms BEFORE the shuffle; the window functions,
  // argmin aggregate, and snippet slice all run over the O(Σ df(term))
  // pruned relation, partitioned by doc_id — one shuffle of 16-byte
  // rows. The snippet text joins the token arrays back only for the
  // one winning window per doc.
  //
  // Cross-engine: position BASE differs (posexplode 0-based, DuckDB
  // ordinality 1-based), so only base-INVARIANT columns cross the hash —
  // window length and the snippet string — never a raw position (b4's
  // anchor discipline).
  // ---------------------------------------------------------------------
  val SnippetTerms: Seq[String] = Seq("table", "merge", "scan")

  /** (doc_id, window_len, snippet) for every doc containing ALL `terms`:
    * the shortest token window covering them, leftmost on ties.
    */
  def snippetWindowOf(docs: DataFrame, terms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alive = docs.filter(col("text").isNotNull)
    val pos = alive
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(terms: _*))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lasts = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("tok") === t, col("pos"))).over(w).as(s"l$i")
    }
    val anno = pos.select(col("doc_id") +: col("pos") +: lasts: _*)
    val valid = anno
      .filter(terms.indices.map(i => col(s"l$i").isNotNull).reduce(_ && _))
      .select(col("doc_id"),
        least(terms.indices.map(i => col(s"l$i")): _*).as("start"),
        col("pos"))
      .select(col("doc_id"), col("start"),
        (col("pos") - col("start") + 1).as("len"))
    val minLen = valid.groupBy(col("doc_id")).agg(min(col("len")).as("len"))
    val best = valid.join(minLen, Seq("doc_id", "len"))
      .groupBy(col("doc_id"), col("len")).agg(min(col("start")).as("start"))
    best
      .join(alive.select(col("doc_id"), TextOps.tokens(col("text")).as("tk")),
        Seq("doc_id"))
      .select(col("doc_id"), col("len").as("window_len"),
        // posexplode positions are 0-based; slice() is 1-based
        array_join(slice(col("tk"), col("start") + 1, col("len")), " ")
          .as("snippet"))
      .orderBy(col("doc_id"))
  }

  def snippetWindow(spark: SparkSession, dir: String): DataFrame =
    snippetWindowOf(graft.Catalog.documents(spark, dir), SnippetTerms)

  val snippetWindowSql: String = {
    val inList = SnippetTerms.map(t => s"'$t'").mkString(", ")
    val lasts = SnippetTerms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN tok = '$t' THEN pos END)" +
        s" OVER (PARTITION BY doc_id ORDER BY pos) AS l$i"
    }.mkString(", ")
    val ls = SnippetTerms.indices.map(i => s"l$i")
    s"""WITH base AS (
       | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       | FROM documents WHERE text IS NOT NULL),
       |idx AS (
       | SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos FROM base),
       |toks AS (SELECT doc_id, tk[pos] AS tok, pos FROM idx),
       |p AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ($inList)),
       |ann AS (SELECT doc_id, pos, $lasts FROM p),
       |valid AS (
       | SELECT doc_id, least(${ls.mkString(", ")}) AS start,
       |  pos - least(${ls.mkString(", ")}) + 1 AS len
       | FROM ann WHERE ${ls.map(_ + " IS NOT NULL").mkString(" AND ")}),
       |m AS (SELECT doc_id, min(len) AS len FROM valid GROUP BY doc_id),
       |best AS (
       | SELECT v.doc_id, v.len, min(v.start) AS start
       | FROM valid v JOIN m USING (doc_id, len) GROUP BY v.doc_id, v.len)
       |SELECT b.doc_id, b.len AS window_len,
       | array_to_string(list_slice(tk, b.start, b.start + b.len - 1), ' ') AS snippet
       |FROM best b JOIN base USING (doc_id)
       |ORDER BY doc_id""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // B14 — fuzzy term matching ("did you mean"): the query-time typo
  // bridge every lexical search layer needs — a misspelled probe term
  // matches nothing in b1-b13's exact-token world. Candidates WITHOUT a
  // vocab × probes edit-distance scan via the SymSpell deletion-
  // neighborhood (Garbe 2012, public domain): every term maps to the
  // set {itself} ∪ {one char deleted}, and any pair within Levenshtein 1
  // (substitution, insertion, or deletion) provably shares a variant —
  // deleting the differing position from each side lands on the same
  // string — so the candidate step is a PURE EQUI-join on the variant
  // key (fan-out = len+1 ≤ FuzzyMaxLen+1 per term, the m7 pigeonhole
  // discipline applied to edit distance). Shared variants can also come
  // from distance-2 pairs (e.g. a transposition), so exact
  // `levenshtein` verifies every candidate — both engines implement the
  // classic integer DP, so the verdict is hash-exact. Suggestion = the
  // (dist asc, freq desc, term asc) best candidate per probe; probes
  // with no within-1 match surface with NULL suggestion (accounting,
  // not absence).
  //
  // Scale: the vocabulary relation is Heaps-law bounded (sublinear in
  // the corpus); variants explode it ≤ 25×; probes broadcast. Nothing
  // corpus-sized shuffles — the corpus is touched once to build the
  // (term, freq) vocab, which b2's postings already materialize.
  // ---------------------------------------------------------------------
  /** Probe battery: deletion, insertion, substitution, an exact term, a
    * transposition (candidate surfaced, verify-rejected — distance 2),
    * a two-suggestion tie broken by frequency, and a no-candidate miss.
    */
  val FuzzyProbes: Seq[String] =
    Seq("filtr", "windoww", "quer", "sprak", "sow", "hash", "zzzz")

  /** Terms longer than this skip variant generation: typo matching on
    * very long tokens is noise (URLs, hashes), and the cap bounds the
    * explode fan-out.
    */
  val FuzzyMaxLen = 24

  /** {term} ∪ {term with one char deleted}, deduped; `name` is the
    * column name in scope.
    */
  private def deletionVariants(name: String): Column =
    array_union(
      array(col(name)),
      expr(s"transform(sequence(1, length($name)), i -> " +
        s"concat(substring($name, 1, i - 1), substring($name, i + 1)))"))

  def fuzzyTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = Catalog.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("term"))
      .filter(length(col("term")).between(1, FuzzyMaxLen))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val vv = vocab.select(col("term"), col("freq"),
      explode(deletionVariants("term")).as("v"))
    val probes = FuzzyProbes.toDF("probe")
    val pv = probes.select(col("probe"),
      explode(deletionVariants("probe")).as("v"))
    val cand = broadcast(pv).join(vv, "v")
      .select(col("probe"), col("term"), col("freq")).distinct()
    val verified = cand
      .withColumn("dist", levenshtein(col("probe"), col("term")).cast("long"))
      .filter(col("dist") <= 1)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("probe"))
      .orderBy(col("dist"), col("freq").desc, col("term"))
    val best = verified.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("probe"), col("term").as("suggestion"),
        col("dist"), col("freq"))
    probes.join(best, Seq("probe"), "left")
      .orderBy(col("probe"))
  }

  val fuzzyTermsSql: String = {
    val probeList = FuzzyProbes.map(p => s"'$p'").mkString(", ")
    def vars(c: String) =
      s"list_distinct(list_append([substr($c, 1, i - 1) || substr($c, i + 1) " +
        s"for i in range(1, len($c) + 1)], $c))"
    s"""WITH toks AS (
       | SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       | FROM documents),
       |vocab AS (
       | SELECT term, count(*) AS freq FROM toks
       | WHERE len(term) BETWEEN 1 AND $FuzzyMaxLen GROUP BY term),
       |vv AS (SELECT term, freq, unnest(${vars("term")}) AS v FROM vocab),
       |probes AS (SELECT unnest([$probeList]) AS probe),
       |pv AS (SELECT probe, unnest(${vars("probe")}) AS v FROM probes),
       |cand AS (SELECT DISTINCT p.probe, t.term, t.freq
       | FROM pv p JOIN vv t ON t.v = p.v),
       |ok AS (
       | SELECT probe, term, freq,
       |  CAST(levenshtein(probe, term) AS BIGINT) AS dist
       | FROM cand WHERE levenshtein(probe, term) <= 1),
       |r AS (SELECT *, row_number() OVER (PARTITION BY probe
       |  ORDER BY dist, freq DESC, term) AS rk FROM ok)
       |SELECT p.probe, r.term AS suggestion, r.dist, r.freq
       |FROM probes p LEFT JOIN r ON r.probe = p.probe AND r.rk = 1
       |ORDER BY p.probe""".stripMargin.replace('\n', ' ')
  }

  val all: Seq[Q] = Seq(
    Q("b16_mrr_eval", mrrEval, Some(mrrEvalSql),
      "retrieval-quality eval (n7's discipline on the lexical arm): " +
        "MRR@k of conjunctive containment under the BM25 ranking — per " +
        "probe the first rank surfacing an all-terms document, exact " +
        "integer micro reciprocal rank, and top-k all-terms hit count; " +
        "pure post-processing of b3's ranked relation, zero extra " +
        "corpus passes (training-data extension)"),
    Q("b14_fuzzy_term", fuzzyTerms, Some(fuzzyTermsSql),
      "SymSpell fuzzy term matching (did-you-mean): deletion-neighborhood " +
        "variants make Levenshtein-1 candidates a pure equi-join (never " +
        "vocab x probes), exact levenshtein verifies, best suggestion by " +
        "(dist, freq desc, term); Heaps-bounded vocab x <=25 fan-out " +
        "(training-data extension)"),
    Q("b13_forget", forgetSearch, Some(forgetSearchSql),
      "right-to-be-forgotten propagation into the serving index: " +
        "postings tombstoned by an 8-byte-key anti-join, corpus stats " +
        "adjusted by delta-local aggregates over the revoked slice only " +
        "(never re-tokenizing the corpus), proven end-to-end by b1's " +
        "probe over the maintained view against a from-scratch oracle " +
        "rebuild (training-data extension)"),
    Q("b12_prf_expansion", prfExpansion, Some(prfExpansionSql),
      s"pseudo-relevance-feedback query expansion (Rocchio/RM): top-$PrfFeedbackDocs " +
        s"feedback docs pool their vocabulary, the $PrfExpandTerms most " +
        "discriminative new terms (integer idf_bits x pooled-tf) join the " +
        "query, shared scoring tail rescores — the vocabulary-mismatch " +
        "fix; two-phase serving form off b2's postings with feedback " +
        "state collected as bounded planning state (training-data extension)"),
    Q("b11_snippet_window", snippetWindow, Some(snippetWindowSql),
      "snippet localization: minimal token window covering all query " +
        "terms + its text (the Lucene-highlighter / RAG evidence-span " +
        "primitive) — running per-term max positions over Q-pruned " +
        "postings give the tightest window ending at each occurrence; " +
        "per-doc argmin with leftmost tie-break; only base-invariant " +
        "columns cross engines (training-data extension)"),
    Q("b10_more_like_this", moreLikeThis, Some(moreLikeThisSql),
      s"more-like-this related-document retrieval: the probe document's top-$MltTerms discriminative terms (integer idf_bits x probe-tf, lexicographic ties) feed b1's shared BM25 tail, probe excluded; two-phase serving form off b2's postings — the probe's own vocabulary collects as query-planning state so the term restriction pushes to the scan (training-data extension)"),
    Q("b9_passage_bm25", bm25Passages, Some(bm25PassagesSql),
      "passage-level BM25 over x14's chunk relation via an invertible packed key — b1's exact scoring kernel at RAG granularity, zero new scoring code (training-data extension)"),
    Q("b8_incremental_index", bm25IncrementalIndex, Some(bm25IncrementalSql),
      "O(delta) inverted-index maintenance: old postings anti-join tombstoned ids UNION delta postings, stats adjusted by three delta-local aggregates — set-equal to a full rebuild (spec-pinned), so b1's probe scores identically off the maintained view; the Lucene segment+tombstone pattern as a read view (training-data extension)"),
    Q("b7_hybrid_rrf", hybridRrf, Some(hybridRrfSql),
      "hybrid lexical+semantic retrieval via reciprocal-rank fusion (Cormack et al. 2009): BM25 arm + cosine arm fused on RANKS alone as exact integer 1000000 div (60+rank) points; the brute semantic arm is n1's labeled baseline, a deployment feeds ANN ranks through the same fusion unchanged (training-data extension)"),
    Q("b6_boolean_search", booleanSearch, Some(booleanSearchSql),
      "boolean retrieval (MUST all / MUST-NOT any) ranked by BM25 over the MUST terms, corpus df preserved under filtering; rides b2's term-sorted postings (training-data extension)"),
    Q("b5_proximity_search", proximitySearch, Some(proximitySearchSql),
      "proximity (NEAR) search: 'A then B within W tokens' as a grid-banded EQUI-join over positional postings — the j9 range-join discipline applied to token positions (training-data extension)"),
    Q("b4_phrase_search", phraseSearch, Some(phraseSearchSql),
      "exact phrase search via positional postings + the anchor equi-join (word i at pos p anchors p-i): the consecutive-tokens semantics bag-of-words BM25 cannot express (training-data extension)"),
    Q("b1_bm25_topk", bm25TopK, Some(bm25TopKSql),
      "BM25 keyword retrieval top-k: bit-quantized idf + exact-rational tf saturation in integer micro-points; per-term postings pruned before the shuffle (training-data extension)"),
    Q("b2_bm25_indexed", bm25Indexed, Some(bm25TopKSql),
      "BM25 off the persisted term-sorted inverted index + 1-row stats artifact — tok IN (…) pushes to the scan and row-group stats skip all but the probed terms; same oracle as b1 (the index is derived state) (training-data extension)"),
    Q("b3_bm25_batch", bm25Batch, Some(bm25BatchSql),
      "BM25 over a probe BATCH off b2's postings: shared terms scanned + df-counted once, fanned out by a broadcast probe join, per-query top-k via a WindowGroupLimit rank cut (training-data extension)"),
    Q("b15_maxscore", bm25MaxScore, Some(bm25TopKSql),
      "MaxScore dynamic pruning (Turtle & Flood): terms whose " +
        "ascending upper-bound prefix stays strictly below the exact " +
        "k-th seed score are never joined into the candidate set — " +
        "LOSSLESS, so the oracle is b1's exact SQL unchanged; at scale " +
        "the pruned stopword-frequency posting list IS the scan " +
        "(training-data extension)"))
}
