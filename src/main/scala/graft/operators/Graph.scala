package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog

/** Link-graph analytics — PageRank over a document link graph
  * (training-data extension).
  *
  * Why this belongs in a corpus engine: crawl-scale curation weighs
  * documents by the link structure they sit in (the CommonCrawl lineage —
  * harmonic/PageRank centrality as a quality prior feeding the z5/z10
  * mixing weights), and PageRank is the canonical representative of the
  * whole iterative-fixpoint family (label propagation, HITS, Katz) that a
  * declarative engine must express WITHOUT a graph runtime: each iteration
  * is one equi-join (rank → out-edges) plus one hash aggregate (sum of
  * contributions by target), which is exactly Pregel's message pass
  * re-expressed relationally (Malewicz et al. 2010; Page et al. 1999).
  *
  * Determinism (the x10/b1 lesson generalized to an ITERATED computation):
  * floating-point PageRank is summation-order-dependent, and after 8
  * iterations any per-iteration ulp wobble amplifies — no hash-exact
  * cross-engine gate could hold. All arithmetic here is 64-bit integer
  * micro-units: ranks start at 1e6, each hop contributes
  * `rank div out_degree`, and the damped update is
  * `150_000 + (850_000 * sum) div 1_000_000` — integer sums are
  * order-independent, so Spark at any parallelism and DuckDB single-threaded
  * produce BIT-IDENTICAL ranks. Floor-truncation leaks mass (sum of ranks
  * only ever falls below N·1e6), which is fine: the consumer ranks and
  * thresholds, it never needs a probability simplex. Dangling mass is
  * dropped, not redistributed, for the same reason. Overflow headroom:
  * contributions are bounded by total mass N·1e6, so the 850_000·sum
  * product needs N ≲ 1e7 per unit; beyond that, rescale the unit (the
  * constant is a parameter, not a law).
  *
  * Graph derivation: the synthetic fixtures carry no hyperlinks, so the
  * link structure is CONTENT-DERIVED — each document links to the three
  * docs addressed by its 60-bit content hash (`h % n`, `(h div 7) % n`,
  * `(h div 49) % n`, self-loops dropped) — deterministic, skewed in-degree
  * (some docs collect many links, most none), and recomputable by the
  * DuckDB oracle from the same bytes. NULL-text docs emit no links but
  * remain ranked nodes (they still collect base mass), and links to absent
  * ids (hollow-row fixtures) drop at the node join — accounted, never
  * thrown.
  *
  * Scale shape at 100 TB: the edge relation (out-degree pre-joined) is a
  * build-once [[graft.Scratch]] artifact like d6's postings — on a cluster
  * it lives hash-bucketed by `src` on the shared FS, so each iteration
  * shuffles ONLY the 16-byte (doc_id, rank) relation to the edge
  * partitioning and the contribution aggregate map-side-combines before its
  * one exchange; edges themselves never move after the build. Each
  * iteration's plan is rebuilt from a fresh artifact read (lineage stays
  * O(1) — the relational form of Pregel's superstep barrier, where a real
  * deployment would also checkpoint the rank relation every few
  * supersteps).
  */
object Graph {

  /** Damped update constants, micro-units of the textbook d=0.85. */
  val UnitMicro = 1000000L
  val DampMicro = 850000L
  val BaseMicro = 150000L

  /** Fixed supersteps — enough for rank ordering to stabilize on the
    * fixture graphs; a deployment iterates to an L1-delta stop instead.
    */
  val Iters = 8

  /** Content-hash divisors: one out-link per divisor (3 per document). */
  val LinkDivisors: Seq[Long] = Seq(1L, 7L, 49L)

  /** Artifact format tag — bump when the link rule or layout changes. */
  private val LinkGraphVersion = "hash60-3link-v1"

  // ---------------------------------------------------------------------
  // Core: iterate the damped update over an explicit (src, dst, deg) edge
  // relation. Both relations arrive as THUNKS returning fresh plans: each
  // superstep re-reads its inputs (artifact-backed in the gate entry), so
  // no attribute lineage is shared across iterations — the iterative
  // self-join ambiguity trap never arises and analysis cost stays flat.
  // ---------------------------------------------------------------------

  /** Integer-exact damped PageRank; returns (doc_id, rank_micro). */
  def pageRankOf(nodes: () => DataFrame, edges: () => DataFrame,
      iters: Int): DataFrame = {
    var ranks = nodes().select(col("doc_id"), lit(UnitMicro).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ranks.withColumnRenamed("doc_id", "src")
        .join(edges(), Seq("src"))
        .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("c"))
      ranks = nodes().join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(s"${BaseMicro}L + (${DampMicro}L * coalesce(c, 0L))" +
            s" div ${UnitMicro}L").as("r"))
    }
    ranks.select(col("doc_id"), col("r").as("rank_micro"))
  }

  /** Convergence-stop deployment form (round-11 verdict item #6): the
    * L1-delta stop the [[Iters]] doc promises. Iterates the identical
    * superstep core and stops once Σ|r_t − r_{t−1}| ≤ `epsL1Micro`
    * (micro-units summed over all nodes) or at `maxIters`, whichever
    * first. Returns the final ranks plus the superstep count actually
    * run, so a deployment can monitor convergence speed.
    *
    * Integer micro-unit arithmetic reaches an EXACT fixpoint (truncating
    * division contracts; once no rank changes, delta is literally 0), so
    * `epsL1Micro = 0` is a meaningful setting — and once delta hits 0
    * every further superstep returns the same relation, which is what
    * makes the fixed-iter gate result reproducible from this form
    * (spec-pinned: converged ranks equal [[pageRankOf]] at [[Iters]] on
    * the fixture graph).
    *
    * Scale notes: the per-superstep delta check is ONE extra node-sized
    * join + a scalar aggregate to the driver — 16-byte rows, map-side
    * combined, the standard Pregel convergence barrier. Each iteration's
    * ranks are localCheckpointed (eager): the delta join and the next
    * superstep both consume them, and without the cut the plan tree
    * doubles per iteration (the k2/k6 measured lesson).
    */
  def pageRankUntil(nodes: () => DataFrame, edges: () => DataFrame,
      epsL1Micro: Long, maxIters: Int = 50): (DataFrame, Int) = {
    var ranks = nodes().select(col("doc_id"), lit(UnitMicro).as("r"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val contrib = ranks.withColumnRenamed("doc_id", "src")
        .join(edges(), Seq("src"))
        .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("c"))
      val next = nodes().join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(s"${BaseMicro}L + (${DampMicro}L * coalesce(c, 0L))" +
            s" div ${UnitMicro}L").as("r"))
        .localCheckpoint(true)
      val delta = next
        .join(ranks.select(col("doc_id"), col("r").as("rp")), Seq("doc_id"))
        .agg(coalesce(sum(abs(col("r") - col("rp"))), lit(0L)))
        .first().getLong(0)
      ranks = next
      it += 1
      converged = delta <= epsL1Micro
    }
    (ranks.select(col("doc_id"), col("r").as("rank_micro")), it)
  }

  /** The content-derived out-edge relation with out-degree pre-joined —
    * built once per corpus (deg is a property of the build, not the
    * query; joining it at build time saves one join per superstep).
    */
  private def buildLinkGraph(spark: SparkSession, dir: String,
      out: String): Unit = {
    val docs = Catalog.documents(spark, dir)
    val n = math.max(docs.count(), 1L)
    val hashed = docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("src"), TextOps.hash60(col("text")).as("h"))
    val edges = LinkDivisors
      .map(p => hashed.select(col("src"), expr(s"(h div $p) % $n").as("dst")))
      .reduce(_ unionByName _)
      .filter(col("dst") =!= col("src"))
      .distinct()
    edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
  }

  private[operators] def linkGraph(spark: SparkSession, dir: String): String =
    graft.Scratch.materialize(spark, "link_graph", LinkGraphVersion, dir)(
      staging => buildLinkGraph(spark, dir, staging))

  /** Bench warmup hook — the build-once artifacts are offline cost. */
  def prewarmIndexes(spark: SparkSession, dir: String): Unit = {
    linkGraph(spark, dir)
    componentEdges(spark, dir)
    triangleEdges(spark, dir); ()
  }

  // ---------------------------------------------------------------------
  // K1 gate entry
  // ---------------------------------------------------------------------
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val idx = linkGraph(spark, dir)
    pageRankOf(
      () => Catalog.documents(spark, dir).select(col("doc_id")),
      () => graft.Catalog.read(spark, idx),
      Iters)
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTEs (`nn`, `hashed`, `edges`) deriving the content-hash
    * link graph — the oracle mirror of [[buildLinkGraph]]'s edge rule,
    * factored so every graph oracle derives the SAME graph from the bytes.
    */
  private def linkGraphCteSql: String = {
    val h = TextOps.hash60Sql("text")
    val nSub = "(SELECT n FROM nn)"
    val linkSelects = LinkDivisors
      .map(p => s"SELECT doc_id AS src, (h // $p) % $nSub AS dst FROM hashed")
      .mkString(" UNION ALL ")
    s"""nn AS (SELECT greatest(count(*), 1) AS n FROM documents),
       |hashed AS (SELECT doc_id, $h AS h FROM documents WHERE text IS NOT NULL),
       |edges AS (SELECT DISTINCT src, dst FROM ($linkSelects) t WHERE dst <> src)"""
      .stripMargin.replace('\n', ' ')
  }

  /** DuckDB mirror: the same supersteps unrolled as generated CTEs —
    * recursive CTEs forbid aggregates in the recursive term, and an
    * unrolled chain is the honest relational rendering of a fixed
    * superstep count anyway.
    */
  val pageRankSql: String = {
    val iterCtes = (1 to Iters).map { i =>
      s"""r$i AS (SELECT d.doc_id,
         | CAST($BaseMicro + ($DampMicro * COALESCE(s.c, 0)) // $UnitMicro AS BIGINT) AS r
         | FROM documents d LEFT JOIN (
         |  SELECT ew.dst AS doc_id, CAST(sum(p.r // ew.deg) AS BIGINT) AS c
         |  FROM r${i - 1} p JOIN ew ON ew.src = p.doc_id
         |  GROUP BY ew.dst) s USING (doc_id))""".stripMargin
    }.mkString(", ")
    s"""WITH $linkGraphCteSql,
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |ew AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       |r0 AS (SELECT doc_id, CAST($UnitMicro AS BIGINT) AS r FROM documents),
       |$iterCtes
       |SELECT doc_id, r AS rank_micro FROM r$Iters ORDER BY doc_id"""
      .stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // K2 — connected components by min-label propagation: the second member
  // of the iterative-fixpoint family, and the one a dedup pipeline
  // actually depends on (near-dup PAIRS are not CLUSTERS — transitive
  // closure is what groups {A~B, B~C} into one duplicate group; see
  // d12 below). Determinism needs no micro-unit trick here: every label
  // is an integer MIN of node ids, and min is order-independent by
  // construction, so the iterated fixpoint is hash-exact cross-engine
  // for free.
  //
  // Per superstep the label relation is referenced ONCE (the k1 lineage
  // discipline): self-loops unioned into the edge relation make the
  // "keep your own label" term part of the same neighbor-min aggregate,
  // so no second left-join back onto the node set is needed — one
  // equi-join (labels → out-edges) + one map-side-combined MIN by dst
  // per superstep, and only the 16-byte (node, label) relation ever
  // shuffles.
  //
  // Plain O(diameter) propagation, not O(log n) star-contraction
  // (Kiveris et al., "Connected Components in MapReduce and Beyond"):
  // pointer-jumping needs label-of-label, which references the label
  // relation TWICE per round and doubles the lineage each superstep —
  // exactly the exponential-analysis trap the thunk discipline exists to
  // avoid. The graphs this engine clusters (near-dup groups ≈ cliques;
  // the small-world link graph) have tiny diameters, so fixed supersteps
  // converge — GraphSpec asserts the fixture reaches its fixpoint — and
  // a deployment on a high-diameter graph would checkpoint the label
  // relation and iterate star-contraction rounds instead.
  // ---------------------------------------------------------------------

  /** Min-label propagation over an explicit SYMMETRIC edge relation whose
    * endpoints all lie in `nodes` (the [[componentEdges]] build enforces
    * both); returns (doc_id, component) where component = least node id
    * reachable within `iters` hops.
    */
  def componentsOf(nodes: () => DataFrame, edges: () => DataFrame,
      iters: Int): DataFrame = {
    var labels = nodes().select(col("doc_id"), col("doc_id").as("l"))
    for (_ <- 1 to iters) {
      val prop = edges().select(col("src"), col("dst"))
        .union(nodes().select(col("doc_id").as("src"), col("doc_id").as("dst")))
      labels = labels.toDF("src", "l").join(prop, Seq("src"))
        .groupBy(col("dst")).agg(min(col("l")).as("l"))
        .withColumnRenamed("dst", "doc_id")
    }
    labels.select(col("doc_id"), col("l").as("component"))
  }

  /** The symmetrized, node-cleaned undirected view of the link graph —
    * build-once like the directed artifact it derives from. Cleaning
    * drops BOTH directions of an edge whose target id is absent (hollow
    * fixtures): an absent node cannot relay labels, so keeping either
    * direction would be asymmetric noise.
    */
  private def buildComponentEdges(spark: SparkSession, dir: String,
      linkIdx: String, out: String): Unit = {
    val docs = Catalog.documents(spark, dir).select(col("doc_id"))
    val e = graft.Catalog.read(spark, linkIdx).select(col("src"), col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .join(docs.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
      .join(docs.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
  }

  private[operators] def componentEdges(spark: SparkSession, dir: String): String = {
    // pre-materialize the directed artifact OUTSIDE the closure
    // (Scratch.materialize memoizes through computeIfAbsent — re-entrant
    // builds deadlock; the d4/d6 discipline)
    val lg = linkGraph(spark, dir)
    graft.Scratch.materialize(spark, "component_edges",
      s"sym-$LinkGraphVersion", dir)(
      staging => buildComponentEdges(spark, dir, lg, staging))
  }

  def components(spark: SparkSession, dir: String): DataFrame = {
    val idx = componentEdges(spark, dir)
    componentsOf(
      () => Catalog.documents(spark, dir).select(col("doc_id")),
      () => graft.Catalog.read(spark, idx),
      Iters)
      .orderBy(col("doc_id"))
  }

  /** Unrolled min-label CTEs shared by the k2 and d12 oracles: `pe` must
    * be the symmetric edge relation WITH self-loops, `l0` the initial
    * (doc_id, l) labels.
    */
  private def labelPropCtesSql(iters: Int): String =
    (1 to iters).map { i =>
      s"""l$i AS (SELECT pe.dst AS doc_id, min(p.l) AS l
         | FROM l${i - 1} p JOIN pe ON pe.src = p.doc_id GROUP BY pe.dst)"""
        .stripMargin
    }.mkString(", ").replace('\n', ' ')

  val componentsSql: String =
    s"""WITH $linkGraphCteSql,
       |es AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |esc AS (SELECT es.src, es.dst FROM es
       |  JOIN documents a ON a.doc_id = es.src
       |  JOIN documents b ON b.doc_id = es.dst),
       |pe AS (SELECT src, dst FROM esc
       |  UNION ALL SELECT doc_id AS src, doc_id AS dst FROM documents),
       |l0 AS (SELECT doc_id, doc_id AS l FROM documents),
       |${labelPropCtesSql(Iters)}
       |SELECT doc_id, l AS component FROM l$Iters ORDER BY doc_id"""
      .stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // D12 — the payoff query: near-dup PAIRS (d4/d6's verified artifact)
  // grouped into transitive duplicate CLUSTERS, one keeper elected per
  // cluster. This is the clustering step every large-scale dedup
  // pipeline runs between candidate verification and document removal
  // (the {A~B, B~C} ⇒ drop-two-of-three decision is impossible at pair
  // granularity). Keeper = least doc_id — deterministic and
  // cross-engine-exact; d11 is the value-based election for pipelines
  // that rank keepers by content instead.
  //
  // Scale shape: the node and edge relations are PAIR-derived, so the
  // whole computation is sized by the thresholded near-dup set (delta-
  // scale), not the corpus — the components kernel never touches
  // documents. Cluster graphs are near-cliques (similarity is nearly
  // transitive at t=0.5), so diameter is tiny and the fixed superstep
  // count converges with room to spare (spec-asserted fixpoint).
  // ---------------------------------------------------------------------
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the mined pair relation ONCE: the thunks are consumed
    // 4× per superstep (nodes twice, edges twice), and unlike k1/k2's
    // artifact-backed reads each consumption would re-run the whole
    // posting-join mining DAG — measured 14.5 s at sf0.1 against ~1 s
    // checkpointed (the k4 lesson applied to a delta-sized relation;
    // pair rows are 16 bytes, so the checkpoint is tiny by construction)
    val pairs = Dedup.jaccardPairsIndexed(spark, dir)
      .select(col("da"), col("db")).localCheckpoint(true)
    def nodes() = pairs.select(col("da").as("doc_id"))
      .union(pairs.select(col("db").as("doc_id"))).distinct()
    def edges() = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
    Q.tinySort(
      componentsOf(nodes _, edges _, Iters)
        .select(col("doc_id"), col("component").as("cluster"),
          (col("doc_id") === col("component")).as("is_keeper")),
      col("doc_id"))
  }

  /** The d12 oracle's whole CTE chain through a final
    * `cl(doc_id, cluster)` relation — shared with z12's leakage-safe
    * split oracle, which re-keys x5's split on the cluster.
    */
  private[operators] def dedupClusterCtesSql: String =
    s"""${Dedup.shingleCteSql},
       |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.hs, b.hs))::DOUBLE
       |    / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
       |    >= ${Dedup.JaccardThreshold}),
       |nd AS (SELECT da AS doc_id FROM pr UNION SELECT db FROM pr),
       |pe AS (SELECT da AS src, db AS dst FROM pr
       |  UNION SELECT db AS src, da AS dst FROM pr
       |  UNION ALL SELECT doc_id AS src, doc_id AS dst FROM nd),
       |l0 AS (SELECT doc_id, doc_id AS l FROM nd),
       |${labelPropCtesSql(Iters)},
       |cl AS (SELECT doc_id, l AS cluster FROM l$Iters)"""
      .stripMargin.replace('\n', ' ')

  /** Oracle: brute-force exact-Jaccard pairs (the d4/d6 oracle's shape —
    * the persisted pair artifact is an execution strategy, not a
    * semantic change) + the same unrolled min-label supersteps.
    */
  val dedupClustersSql: String =
    s"""WITH $dedupClusterCtesSql
       |SELECT doc_id, cluster, (doc_id = cluster) AS is_keeper
       | FROM cl ORDER BY doc_id"""
      .stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // K3 — triangle counting + local clustering coefficient: the graph
  // family's third member, and the structural-quality prior the first
  // two can't supply. PageRank measures REACH, components measure
  // MEMBERSHIP; the clustering coefficient measures COHESION — link-spam
  // constellations and boilerplate rings are near-cliques (cc → 1) while
  // organically-cited documents sit in sparse neighborhoods (cc ≈ 0), so
  // cc is the standard spam/ring feature of web-graph curation
  // (TrustRank-era link analysis).
  //
  // Algorithm: degree-ordered edge orientation (Chiba–Nishizeki / the
  // "compact-forward" counting of Latapy 2008) — orient each undirected
  // edge from its (deg, id)-lexicographically smaller endpoint, then
  // count wedges u→v→w that close with u→w. The strict total order makes
  // every triangle appear EXACTLY once (its least vertex is u), and the
  // orientation bounds every vertex's out-degree by O(√m), so the wedge
  // join is O(m^1.5) worst-case instead of Σdeg² — the difference
  // between a web-scale hub exploding the self-join and not. All three
  // legs are equi-joins over the same persisted relation; the only
  // driver-side state is nothing at all.
  //
  // Determinism: counts and integer-rational ppm only — no floats, so
  // hash-exact cross-engine for free (the k2 property). cc_ppm =
  // (2·10⁶·tri) div (deg·(deg−1)), the textbook 2T/d(d−1) in micro-units.
  // ---------------------------------------------------------------------

  /** Per-node degree of a symmetric, deduplicated edge relation. */
  private def degreesOf(edges: () => DataFrame): DataFrame =
    edges().groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))

  /** Degree-ordered orientation: keep the (deg, id)-ascending direction of
    * each symmetric pair — exactly one survivor per undirected edge, and
    * every out-neighborhood bounded O(√m).
    */
  private def orientedOf(edges: () => DataFrame): DataFrame = {
    val deg = degreesOf(edges)
    edges()
      .join(deg.select(col("id").as("src"), col("deg").as("du")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("dv")), Seq("dst"))
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
  }

  /** The counting kernel: wedge u→v→w closed by u→w over an already
    * ORIENTED edge relation (fresh aliases per leg, so the triple
    * self-join never hits attribute-lineage ambiguity), zero-filled
    * per-node output.
    */
  private def triangleCore(nodes: () => DataFrame, deg: () => DataFrame,
      oriented: () => DataFrame): DataFrame = {
    val leg1 = oriented().select(col("u").as("a"), col("v").as("b"))
    val leg2 = oriented().select(col("u").as("b2"), col("v").as("c"))
    val leg3 = oriented().select(col("u").as("a3"), col("v").as("c3"))
    val tri = leg1.join(leg2, col("b") === col("b2"))
      .join(leg3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri.select(col("a").as("id"))
      .unionAll(tri.select(col("b").as("id")))
      .unionAll(tri.select(col("c").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    nodes().select(col("doc_id"))
      .join(deg().select(col("id").as("doc_id"), col("deg")), Seq("doc_id"), "left")
      .join(perNode.select(col("id").as("doc_id"), col("tri")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        expr("CASE WHEN coalesce(deg, 0L) >= 2L THEN" +
          " (2000000L * coalesce(tri, 0L)) div (deg * (deg - 1L))" +
          " ELSE 0L END").as("cc_ppm"))
  }

  /** Per-node triangle participation over an explicit SYMMETRIC,
    * deduplicated edge relation: (doc_id, tri, deg, cc_ppm) for every
    * node in `nodes`, zero-filled where the node has no edges. Orientation
    * is computed inline — the spec-facing form; the gate entry reads the
    * persisted oriented artifact instead.
    */
  def triangleStatsOf(nodes: () => DataFrame, edges: () => DataFrame): DataFrame =
    triangleCore(nodes, () => degreesOf(edges), () => orientedOf(edges))

  /** The oriented edge relation persisted build-once (d6/k1/k2's pattern):
    * the three wedge legs each re-read this artifact instead of
    * re-aggregating degrees and re-filtering the symmetric relation per
    * leg — on a cluster it lives hash-bucketed by `u`, so the wedge join
    * co-locates without moving edges.
    */
  private def buildTriangleEdges(spark: SparkSession, symIdx: String,
      out: String): Unit =
    orientedOf(() => graft.Catalog.read(spark, symIdx))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)

  private[operators] def triangleEdges(spark: SparkSession, dir: String): String = {
    // pre-materialize the symmetric artifact OUTSIDE the closure
    // (computeIfAbsent re-entry — the d4/d6 discipline)
    val sym = componentEdges(spark, dir)
    graft.Scratch.materialize(spark, "triangle_edges",
      s"orient-$LinkGraphVersion", dir)(
      staging => buildTriangleEdges(spark, sym, staging))
  }

  def triangleStats(spark: SparkSession, dir: String): DataFrame = {
    val sym = componentEdges(spark, dir)
    val ori = triangleEdges(spark, dir)
    triangleCore(
      () => Catalog.documents(spark, dir).select(col("doc_id")),
      () => degreesOf(() => graft.Catalog.read(spark, sym)),
      () => graft.Catalog.read(spark, ori))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same degree-ordered orientation and wedge closure over
    * the shared symmetric-edge CTEs.
    */
  val triangleStatsSql: String =
    s"""WITH $linkGraphCteSql,
       |es AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |esc AS (SELECT es.src, es.dst FROM es
       |  JOIN documents a ON a.doc_id = es.src
       |  JOIN documents b ON b.doc_id = es.dst),
       |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM esc GROUP BY src),
       |oe AS (SELECT e.src AS u, e.dst AS v FROM esc e
       |  JOIN deg a ON a.id = e.src JOIN deg b ON b.id = e.dst
       |  WHERE (a.deg < b.deg) OR (a.deg = b.deg AND e.src < e.dst)),
       |tr AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM oe e1 JOIN oe e2 ON e2.u = e1.v
       |  JOIN oe e3 ON e3.u = e1.u AND e3.v = e2.v),
       |tn AS (SELECT a AS id FROM tr UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr),
       |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS tri FROM tn GROUP BY id)
       |SELECT d.doc_id, COALESCE(tc.tri, 0) AS tri, COALESCE(deg.deg, 0) AS deg,
       | CAST(CASE WHEN COALESCE(deg.deg, 0) >= 2
       |  THEN (2000000 * COALESCE(tc.tri, 0)) // (deg.deg * (deg.deg - 1))
       |  ELSE 0 END AS BIGINT) AS cc_ppm
       |FROM documents d
       |LEFT JOIN deg ON deg.id = d.doc_id
       |LEFT JOIN tc ON tc.id = d.doc_id
       |ORDER BY d.doc_id"""
      .stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------------
  // K4 — HITS (Kleinberg 1999): the two-relation alternating fixpoint —
  // authorities are endorsed by good hubs, hubs endorse good
  // authorities. The curation reading of the split: authorities ≈
  // content pages, hubs ≈ directories/link farms — a high hub score with
  // a low authority score is the link-farm signature PageRank's single
  // scalar blurs (k3's cc is the third leg of that spam triad).
  //
  // The new structural shape vs k1/k2: each superstep runs the edge join
  // in BOTH directions (h→dst aggregates authorities, a→src aggregates
  // hubs) and renormalizes each relation by a GLOBAL scalar — a 1-row
  // aggregate broadcast back (the j7 scalar-subquery shape inside an
  // iterated plan). Normalization is by MAX, not L2: HITS' normalization
  // constant is arbitrary for ranking (relative order is the contract —
  // k1's argument), max is order-independent integer arithmetic where an
  // L2 norm is irrational, and max-normalization bounds every score at
  // 1e6 so the next superstep's products stay inside 64 bits. Overflow
  // headroom: raw sums are ≤ in/out-degree · 1e6, so the ·1e6
  // renormalization product needs degree ≲ 1e6 per unit scale — beyond
  // that, rescale the unit (k1's rule).
  //
  // Dropped relations stay dropped: a node with no in-links scores
  // authority 0 and simply contributes nothing through inner joins —
  // zero-fill happens once at the output projection, never inside the
  // loop (no per-superstep left join back onto the node set; HITS needs
  // no base mass, unlike PageRank's damped update).
  // ---------------------------------------------------------------------

  /** Fixed HITS supersteps for the gate entry — hub/authority ORDER
    * stabilizes within a few alternations on the fixture graphs; a
    * deployment iterates to an L1-delta stop.
    */
  val HitsIters = 4

  /** Integer max-normalized HITS over an explicit directed (src, dst)
    * edge relation; returns (doc_id, hub_micro, auth_micro) zero-filled
    * over `nodes`.
    *
    * Each half-step CHECKPOINTS its raw score relation
    * (`localCheckpoint`): the renormalization references raw twice (the
    * 1-row max aggregate + the scaling join), and unlike k1/k2 a global
    * scalar cannot be folded into a single-reference plan — without the
    * checkpoint the plan tree doubles per half-step (measured: 2298
    * duplicated scans at 4 supersteps, zero exchange reuse). Pregel
    * runtimes (GraphX included) materialize the score relation every
    * superstep for exactly this reason; the checkpoint is node-sized
    * (16-byte rows), never edge-sized.
    */
  def hitsOf(nodes: () => DataFrame, edges: () => DataFrame,
      iters: Int): DataFrame = {
    def renorm(rawPlan: DataFrame, out: String): DataFrame = {
      val raw = rawPlan.localCheckpoint(true)
      val m = raw.agg(greatest(coalesce(max(col("v")), lit(0L)), lit(1L))
        .as("m"))
      raw.crossJoin(broadcast(m))
        .select(col("id"), expr(s"(v * ${UnitMicro}L) div m").as(out))
    }
    var hubs = nodes().select(col("doc_id").as("id"),
      lit(UnitMicro).as("h"))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = hubs.withColumnRenamed("id", "src")
        .join(edges(), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("v"))
      auths = renorm(aRaw, "a")
      val hRaw = auths.withColumnRenamed("id", "dst")
        .join(edges(), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("v"))
      hubs = renorm(hRaw, "h")
    }
    nodes()
      .join(hubs.select(col("id").as("doc_id"), col("h")), Seq("doc_id"), "left")
      .join(auths.select(col("id").as("doc_id"), col("a")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("h"), lit(0L)).as("hub_micro"),
        coalesce(col("a"), lit(0L)).as("auth_micro"))
  }

  def hits(spark: SparkSession, dir: String): DataFrame = {
    val idx = linkGraph(spark, dir)
    hitsOf(
      () => Catalog.documents(spark, dir).select(col("doc_id")),
      () => graft.Catalog.read(spark, idx).select(col("src"), col("dst")),
      HitsIters)
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same alternating supersteps unrolled; every raw sum is
    * cast to BIGINT (DuckDB widens integer sums to HUGEINT — the Q rule)
    * and each renormalization folds its global max in as a WINDOW over
    * the same CTE — each unrolled level is referenced exactly ONCE by
    * the next, keeping the inlined expression tree linear in the
    * superstep count (a separate 1-row max CTE would reference each
    * level twice and the tree doubles per half-step: the
    * exponential-analysis trap, observed as a minutes-long oracle).
    */
  val hitsSql: String = {
    val iterCtes = (1 to HitsIters).map { i =>
      s"""ar$i AS (SELECT e.dst AS id, CAST(sum(p.h) AS BIGINT) AS v
         | FROM h${i - 1} p JOIN edges e ON e.src = p.id GROUP BY e.dst),
         |a$i AS (SELECT id, (v * $UnitMicro) // greatest(max(v) OVER (), 1) AS a FROM ar$i),
         |hr$i AS (SELECT e.src AS id, CAST(sum(p.a) AS BIGINT) AS v
         | FROM a$i p JOIN edges e ON e.dst = p.id GROUP BY e.src),
         |h$i AS (SELECT id, (v * $UnitMicro) // greatest(max(v) OVER (), 1) AS h FROM hr$i)"""
        .stripMargin
    }.mkString(", ")
    s"""WITH $linkGraphCteSql,
       |h0 AS (SELECT doc_id AS id, CAST($UnitMicro AS BIGINT) AS h FROM documents),
       |$iterCtes
       |SELECT d.doc_id, COALESCE(h.h, 0) AS hub_micro,
       | COALESCE(a.a, 0) AS auth_micro
       |FROM documents d
       |LEFT JOIN h$HitsIters h ON h.id = d.doc_id
       |LEFT JOIN a$HitsIters a ON a.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // K5 — k-core decomposition by iterative peeling (Seidman 1983; the
  // distributed rendering of Montresor et al. 2013): repeatedly remove
  // nodes whose degree in the SURVIVING subgraph is below k. The curation
  // reading: the k-core is the maximal subgraph where every member is
  // multiply-corroborated — a cohesion floor that separates densely
  // interlinked reference material from peripheral one-off pages, and
  // the standard cheap pre-filter before expensive community analysis
  // (k3's cc scores a node's OWN neighborhood; the core number is a
  // GLOBAL cohesion certificate a single spam ring can't fake by
  // self-linking, since its members' degrees collapse together once the
  // periphery peels).
  //
  // Fixed peel rounds (k1's fixed-superstep discipline): the registered
  // semantics are "the surviving set after R rounds", which is exactly
  // the k-core once no round changes the set — GraphSpec asserts the
  // fixture reaches that fixpoint, and a deployment iterates to an
  // empty-delta stop instead. Each round: restrict the symmetric edge
  // artifact to surviving endpoints (two semi-joins), one
  // map-side-combined degree count, one >= k filter. The surviving set
  // is referenced twice per round (both endpoints), so each round
  // CHECKPOINTS its node-sized output (the k4 lesson — 8-byte rows,
  // never edge-sized); the edge relation itself re-reads the build-once
  // artifact and never moves after the build.
  //
  // Determinism: integer degree counts and an integer threshold — the
  // peeled set is unique (peeling is confluent: removal order cannot
  // change the fixpoint), so hash-exact cross-engine for free.
  // ---------------------------------------------------------------------

  /** Peel threshold + fixed rounds for the registered gate entry. The
    * symmetrized 3-out-link fixture graph has mean degree ≈ 6, so k = 4
    * peels a real periphery while keeping a non-trivial core.
    */
  val KCoreK = 4
  val KCoreRounds = 4

  /** `rounds` rounds of degree-< k peeling over an explicit SYMMETRIC,
    * deduplicated, self-loop-free edge relation; returns the surviving
    * (doc_id, deg) — deg measured in the subgraph the PREVIOUS round
    * left, i.e. the value the >= k cut certified.
    */
  def kcoreOf(nodes: () => DataFrame, edges: () => DataFrame,
      k: Int, rounds: Int): DataFrame = {
    var out = nodes().select(col("doc_id"),
      lit(Long.MaxValue).as("deg")) // round-0 "survivors": everyone
    for (_ <- 1 to rounds) {
      val alive = out.select(col("doc_id"))
      out = edges()
        .join(alive.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
        .join(alive.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
        .groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .localCheckpoint(true)
    }
    out.select(col("doc_id"), col("deg"))
  }

  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val sym = componentEdges(spark, dir)
    kcoreOf(
      () => Catalog.documents(spark, dir).select(col("doc_id")),
      () => graft.Catalog.read(spark, sym),
      KCoreK, KCoreRounds)
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same peel rounds unrolled; each round's survivor set is
    * referenced twice by the next round's endpoint restriction, so the
    * survivor CTEs are pinned MATERIALIZED — without it an inlining
    * planner doubles the expression tree per round (the k4 trap).
    */
  val kcoreSql: String = {
    val roundCtes = (1 to KCoreRounds).map { i =>
      val restrict =
        if (i == 1) "" // a0 = all documents; esc is endpoint-clean already
        else s" JOIN a${i - 1} s ON s.doc_id = e.src" +
          s" JOIN a${i - 1} t ON t.doc_id = e.dst"
      s"""d$i AS (SELECT e.src AS doc_id, CAST(count(*) AS BIGINT) AS deg
         | FROM esc e$restrict GROUP BY e.src),
         |a$i AS MATERIALIZED (SELECT doc_id FROM d$i WHERE deg >= $KCoreK)"""
        .stripMargin
    }.mkString(", ")
    s"""WITH $linkGraphCteSql,
       |es AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |esc AS MATERIALIZED (SELECT es.src, es.dst FROM es
       |  JOIN documents a ON a.doc_id = es.src
       |  JOIN documents b ON b.doc_id = es.dst),
       |$roundCtes
       |SELECT doc_id, deg FROM d$KCoreRounds WHERE deg >= $KCoreK
       |ORDER BY doc_id""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // K6 — multi-source BFS hop distance (delta-frontier form): distance in
  // hops from a deterministic trusted-seed set, the TrustRank-style
  // propagation prior (Gyöngyi et al. 2004) — crawl curation weighs a
  // page by how few links separate it from vetted seeds, and hop distance
  // is the integer-exact skeleton of every decayed-trust variant. It also
  // completes the iterative family with the one kernel k1–k5 lack: a
  // REACHABILITY measure (k1 reach-weight, k2 membership, k3 cohesion,
  // k5 global cohesion — none answer "how far").
  //
  // Delta-frontier, not min-union: each superstep joins ONLY the frontier
  // (nodes discovered last round) to the edge artifact, so message volume
  // is frontier-sized — on a 100 TB graph the min-union form (k2's shape)
  // re-shuffles the full distance relation every round, while BFS's
  // monotone "first discovery is final" property lets the settled set sit
  // still. One node-sized checkpoint per round (the k4/k5 lesson: the
  // settled relation is referenced twice per round — anti-join + union —
  // and lineage would otherwise double); the edge artifact re-reads and
  // never moves after the build.
  //
  // Determinism: hop counts are integers and BFS layers are
  // order-independent sets (the i-th layer is exactly the nodes at
  // distance i regardless of traversal order), so the result is
  // hash-exact cross-engine for free. Registered semantics are "within
  // BfsRounds hops" (the k5 fixed-rounds discipline); unreached nodes
  // report -1, a deployment iterates to an empty-frontier stop.
  // ---------------------------------------------------------------------

  /** Seed rule: doc_id ≡ 0 (mod 97) — ~1% of the corpus, deterministic,
    * recomputable by the oracle from the same bytes (the link-graph
    * derivation discipline: synthetic fixtures carry no curated seed
    * list, so the seed set is id-derived).
    */
  val BfsSeedMod = 97L

  /** Fixed BFS supersteps for the gate entry — the symmetrized 3-out-link
    * graph is small-world (mean degree ≈ 6), so 6 rounds from a 1% seed
    * set reaches everything reachable with room to spare.
    */
  val BfsRounds = 6

  /** Delta-frontier BFS over an explicit SYMMETRIC edge relation; returns
    * (doc_id, hops) for every node in `nodes`, -1 where unreached within
    * `rounds`.
    */
  def bfsHopsOf(nodes: () => DataFrame, edges: () => DataFrame,
      seeds: () => DataFrame, rounds: Int): DataFrame = {
    var dist = seeds().select(col("doc_id"), lit(0L).as("hops"))
      .localCheckpoint(true)
    for (i <- 1 to rounds) {
      val frontier = dist.filter(col("hops") === lit(i - 1L))
        .select(col("doc_id").as("src"))
      val novel = edges()
        .join(frontier, Seq("src"), "left_semi")
        .select(col("dst").as("doc_id")).distinct()
        .join(dist.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(i.toLong).as("hops"))
      dist = dist.unionByName(novel).localCheckpoint(true)
    }
    nodes().select(col("doc_id"))
      .join(dist, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hops"), lit(-1L)).as("hops"))
  }

  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val sym = componentEdges(spark, dir)
    bfsHopsOf(
      () => Catalog.documents(spark, dir).select(col("doc_id")),
      () => graft.Catalog.read(spark, sym),
      () => Catalog.documents(spark, dir)
        .filter(col("doc_id") % BfsSeedMod === 0L).select(col("doc_id")),
      BfsRounds)
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same delta-frontier rounds unrolled; each settled set is
    * referenced twice by the next round (frontier filter + anti-join), so
    * every round CTE is pinned MATERIALIZED (the k5 discipline).
    */
  val bfsHopsSql: String = {
    val roundCtes = (1 to BfsRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         | SELECT * FROM d${i - 1}
         | UNION ALL
         | SELECT e.dst AS doc_id, CAST($i AS BIGINT) AS hops
         | FROM d${i - 1} p JOIN esc e ON e.src = p.doc_id
         | WHERE p.hops = ${i - 1}
         |  AND NOT EXISTS (SELECT 1 FROM d${i - 1} s WHERE s.doc_id = e.dst)
         | GROUP BY e.dst)""".stripMargin
    }.mkString(", ")
    s"""WITH $linkGraphCteSql,
       |es AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |esc AS MATERIALIZED (SELECT es.src, es.dst FROM es
       |  JOIN documents a ON a.doc_id = es.src
       |  JOIN documents b ON b.doc_id = es.dst),
       |d0 AS MATERIALIZED (SELECT doc_id, CAST(0 AS BIGINT) AS hops
       |  FROM documents WHERE doc_id % $BfsSeedMod = 0),
       |$roundCtes
       |SELECT d.doc_id, COALESCE(dd.hops, -1) AS hops
       |FROM documents d LEFT JOIN d$BfsRounds dd USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // K7 — personalized PageRank / TrustRank (Haveliwala 2002; Gyöngyi et
  // al. 2004): k1's damped fixpoint with the teleport vector restricted
  // to k6's trusted-seed set — trust mass originates ONLY at vetted
  // pages and decays multiplicatively along links, so a page's score is
  // its link-mediated endorsement BY the seeds, not by the whole graph.
  // k6 answers "how far from trust" (the hop skeleton); k7 answers "how
  // much trust arrives" (hops weighted by damping and branching) — the
  // pair is the standard spam-demotion read: high k1 rank with low k7
  // trust is the link-farm signature seeded propagation exists to catch.
  //
  // Mechanically a two-line delta from k1 — seeds start with unit mass,
  // non-seeds with zero, and the per-superstep base term is seed-gated —
  // so every k1 scale property carries unchanged: build-once edge
  // artifact, one equi-join + one map-side-combined aggregate per
  // superstep, only the 16-byte rank relation shuffles, integer
  // micro-unit arithmetic order-independent hence hash-exact. Dropped
  // (dangling/truncated) mass stays dropped — k1's rule; scores are for
  // ranking and thresholding, never a simplex.
  // ---------------------------------------------------------------------

  /** Seed-restricted damped update over explicit (src, dst, deg) edges
    * and a (doc_id) seed relation; returns (doc_id, trust_micro).
    */
  def trustRankOf(nodes: () => DataFrame, edges: () => DataFrame,
      seeds: () => DataFrame, iters: Int): DataFrame = {
    // the seed flag is STATIC across supersteps — checkpoint the node-sized
    // (doc_id, s) relation once (the k4 discipline: 16-byte rows) instead
    // of re-deriving the nodes⋈seeds broadcast join every iteration
    // (measured 3.2 s → matching k1's 1.9 s shape at sf0.1)
    val seeded = nodes()
      .join(seeds().withColumn("s", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("s"), lit(0L)).as("s"))
      .localCheckpoint(true)
    var ranks = seeded.select(col("doc_id"),
      (col("s") * UnitMicro).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ranks.withColumnRenamed("doc_id", "src")
        .join(edges(), Seq("src"))
        .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("c"))
      ranks = seeded.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(s"s * ${BaseMicro}L + (${DampMicro}L * coalesce(c, 0L))" +
            s" div ${UnitMicro}L").as("r"))
    }
    ranks.select(col("doc_id"), col("r").as("trust_micro"))
  }

  def trustRank(spark: SparkSession, dir: String): DataFrame = {
    val idx = linkGraph(spark, dir)
    trustRankOf(
      () => Catalog.documents(spark, dir).select(col("doc_id")),
      () => graft.Catalog.read(spark, idx),
      () => Catalog.documents(spark, dir)
        .filter(col("doc_id") % BfsSeedMod === 0L).select(col("doc_id")),
      Iters)
      .orderBy(col("doc_id"))
  }

  /** Oracle: k1's unrolled supersteps with the base term seed-gated. */
  val trustRankSql: String = {
    val iterCtes = (1 to Iters).map { i =>
      s"""r$i AS (SELECT sd.doc_id,
         | CAST(sd.s * $BaseMicro + ($DampMicro * COALESCE(t.c, 0)) // $UnitMicro AS BIGINT) AS r
         | FROM sd LEFT JOIN (
         |  SELECT ew.dst AS doc_id, CAST(sum(p.r // ew.deg) AS BIGINT) AS c
         |  FROM r${i - 1} p JOIN ew ON ew.src = p.doc_id
         |  GROUP BY ew.dst) t USING (doc_id))""".stripMargin
    }.mkString(", ")
    s"""WITH $linkGraphCteSql,
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |ew AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       |sd AS (SELECT doc_id,
       |  CAST(CASE WHEN doc_id % $BfsSeedMod = 0 THEN 1 ELSE 0 END AS BIGINT) AS s
       | FROM documents),
       |r0 AS (SELECT doc_id, CAST(s * $UnitMicro AS BIGINT) AS r FROM sd),
       |$iterCtes
       |SELECT doc_id, r AS trust_micro FROM r$Iters ORDER BY doc_id"""
      .stripMargin.replace('\n', ' ')
  }

  // ---------------------------------------------------------------------
  // K8 — degree-distribution profile: the log2-bucketed in/out-degree
  // histogram a graph review reads first (heavy-tail/power-law shape =
  // n_nodes falling roughly geometrically across buckets; a hub
  // explosion shows up as mass in high buckets). Buckets use p14's
  // bitlength kernel (integer-exact, shared definition via the same
  // length(bin(...)) form in both engines); degree-ZERO nodes are a
  // first-class row (bucket 0) because dangling mass is exactly what
  // k1's rank floor and k6's -1 truncation care about — a histogram
  // that silently drops them misreads the graph.
  //
  // Plan: one groupBy per direction over the build-once edge artifact
  // (16-byte rows), a left join back to the node set for the zeros,
  // and a ~15-row bucket aggregate. Nothing node-count-sized ever sits
  // on the driver.
  // ---------------------------------------------------------------------
  def degreeProfileOf(nodes: DataFrame, edges: DataFrame): DataFrame = {
    def side(dirName: String, key: String): DataFrame = {
      val deg = edges.groupBy(col(key).as("doc_id"))
        .agg(count(lit(1)).as("d"))
      nodes.join(deg, Seq("doc_id"), "left")
        .select(lit(dirName).as("direction"),
          coalesce(col("d"), lit(0L)).as("d"))
        .select(col("direction"),
          when(col("d") === 0L, lit(0L))
            .otherwise(length(bin(col("d"))).cast("long")).as("bucket"),
          col("d"))
        .groupBy(col("direction"), col("bucket"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("total_edges"))
    }
    side("in", "dst").unionByName(side("out", "src"))
      .orderBy(col("direction"), col("bucket"))
  }

  def degreeProfile(spark: SparkSession, dir: String): DataFrame = {
    val idx = linkGraph(spark, dir)
    degreeProfileOf(
      Catalog.documents(spark, dir).select(col("doc_id")),
      graft.Catalog.read(spark, idx).select(col("src"), col("dst")))
  }

  val degreeProfileSql: String = {
    def sideSql(dirName: String, key: String): String =
      s"""SELECT '$dirName' AS direction,
         | CASE WHEN d = 0 THEN 0
         |   ELSE length(bin(CAST(d AS BIGINT))) END AS bucket,
         | CAST(count(*) AS BIGINT) AS n_nodes,
         | CAST(sum(d) AS BIGINT) AS total_edges
         |FROM (SELECT n.doc_id, coalesce(g.d, 0) AS d
         |      FROM (SELECT doc_id FROM documents) n
         |      LEFT JOIN (SELECT $key AS doc_id, count(*) AS d
         |                 FROM edges GROUP BY 1) g USING (doc_id))
         |GROUP BY 1, 2""".stripMargin
    s"""WITH $linkGraphCteSql
       |SELECT * FROM (${sideSql("in", "dst")} UNION ALL ${sideSql("out", "src")})
       |ORDER BY direction, bucket""".stripMargin.replace('\n', ' ')
  }

  val all: Seq[Q] = Seq(
    Q("k8_degree_profile", degreeProfile, Some(degreeProfileSql),
      "log2-bucketed in/out-degree histogram of the link graph (p14's " +
        "bitlength bucket kernel; degree-zero nodes are a first-class " +
        "bucket-0 row — dangling mass is what k1's floor and k6's " +
        "truncation care about); one aggregate per direction over the " +
        "build-once edge artifact (training-data extension)"),
    Q("k1_pagerank", pageRank, Some(pageRankSql),
      "integer-exact damped PageRank over the content-derived link graph — " +
        "8 relational supersteps (join + map-side-combined aggregate) off a " +
        "build-once edge artifact; micro-unit integer arithmetic makes the " +
        "iterated fixpoint bit-identical across engines (training-data " +
        "extension)"),
    Q("k2_components", components, Some(componentsSql),
      "connected components of the link graph via min-label propagation — " +
        "one labels→edges equi-join + one map-side-combined MIN per " +
        "superstep off the symmetrized build-once edge artifact; integer " +
        "min is order-independent, so the fixpoint is hash-exact " +
        "cross-engine (training-data extension)"),
    Q("d12_dedup_clusters", dedupClusters, Some(dedupClustersSql),
      "transitive near-dup clusters: connected components over d4/d6's " +
        "verified pair artifact with keeper = least doc_id per cluster — " +
        "the pair→group resolution step every dedup pipeline needs before " +
        "removal; work is sized by the thresholded pair set, never the " +
        "corpus (training-data extension)"),
    Q("k3_triangle_count", triangleStats, Some(triangleStatsSql),
      "per-document triangle count, degree, and local clustering " +
        "coefficient (integer ppm) via degree-ordered edge orientation — " +
        "each triangle counted exactly once at its least vertex, wedge " +
        "join bounded O(m^1.5) by the orientation; the link-spam / " +
        "boilerplate-ring cohesion prior (training-data extension)"),
    Q("k5_kcore", kcore, Some(kcoreSql),
      "k-core decomposition by iterative peeling (Seidman; Montresor et " +
        "al. distributed form): fixed rounds of remove-degree-below-k " +
        "over the build-once symmetric edge artifact — two semi-joins + " +
        "one map-side-combined degree count per round, node-sized " +
        "checkpoints only; the global cohesion certificate (multiply-" +
        "corroborated subgraph) feeding curation priors, confluent so " +
        "the fixpoint is order-independent and hash-exact cross-engine " +
        "(training-data extension)"),
    Q("k4_hits", hits, Some(hitsSql),
      "integer max-normalized HITS: the two-relation alternating " +
        "fixpoint (authorities endorsed by hubs, hubs endorsing " +
        "authorities) — per superstep the edge join runs both directions " +
        "and each relation renormalizes by a broadcast 1-row MAX; " +
        "high-hub/low-authority is the link-farm signature PageRank " +
        "blurs (training-data extension)"),
    Q("k6_bfs_hops", bfsHops, Some(bfsHopsSql),
      "multi-source BFS hop distance from a deterministic trusted-seed " +
        "set (TrustRank-style propagation prior): delta-frontier form — " +
        "each superstep joins only the newly-discovered frontier to the " +
        "build-once symmetric edge artifact, so message volume is " +
        "frontier-sized, never corpus-sized; node-sized checkpoints " +
        "only, unreached nodes report -1 (training-data extension)"),
    Q("k7_trustrank", trustRank, Some(trustRankSql),
      "personalized PageRank / TrustRank: k1's integer-exact damped " +
        "fixpoint with the teleport vector restricted to k6's trusted-" +
        "seed set — trust mass originates only at vetted pages and " +
        "decays along links; high-rank/low-trust is the link-farm " +
        "signature seeded propagation catches; every k1 scale property " +
        "carries (build-once edges, 16-byte rank shuffles) " +
        "(training-data extension)"))
}
