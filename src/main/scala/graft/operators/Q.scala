package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalogued engine query: a Spark implementation plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle statement over
  * the same parquet tables. The driver's correctness gate hash-compares the
  * two at sf0.01 (SURVEY.md §5 t2).
  *
  * ORACLE-AUTHORING RULE (r7 gate failure, x6): the driver's hash is
  * TYPE-sensitive, and DuckDB widens integer aggregates — `sum()` over
  * INT/BIGINT returns HUGEINT — so every integer `sum()` (and any other
  * aggregate whose DuckDB result type differs from the Spark side) MUST be
  * cast to the Spark-side type in the oracle SQL: `CAST(sum(…) AS BIGINT)
  * AS alias`. Identical values with differing types are a hash FAIL.
  * (`avg()` returns DOUBLE in both engines — no cast needed there.)
  */
case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String)

object Q {
  /** Total-order presentation sort for a PROVABLY SMALL result of an
    * expensive DAG. A plain `orderBy` compiles to a range-partitioned
    * Exchange whose boundary-sampling pass re-executes the whole child
    * plan once before the real pass — on d4 that sampling pass doubled
    * the query (3.6 s → 1.7 s at sf0.1 without it), and on n2 it re-runs
    * the quadratic verify join. Routing the tiny result through ONE
    * round-robin shuffle partition keeps the upstream at full
    * parallelism, sorts once, and never re-executes. Use ONLY where the
    * result is small by construction (thresholded near-dup pair sets,
    * accounting rows) — a large result wants the scalable range sort.
    */
  def tinySort(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Scale-adaptive parallelism floor for a COMPUTE-HEAVY stage rooted at a
    * small scan. Parquet scan parallelism follows file splits
    * (`maxPartitionBytes`), so a kernel whose per-row cost is quadratic or
    * codec-bound (a block-nested similarity join, a banded candidate join)
    * inherits ONE task when its input is a single small file — measured on
    * m9: a 5.8 s single-task stage on a 32-core box, 31 cores idle. This
    * helper round-robins the input up to the session's default parallelism
    * ONLY when the plan is narrower than that; at production scale the
    * input's natural splits already exceed it and the call is a no-op plan
    * pass-through — the partitioning adapts to input size instead of
    * pinning a constant (optimization guide §2.5/§2.6).
    *
    * Use on the SMALL pre-fan-out relation (cheap shuffle, rows ≤ corpus
    * keys), never on a post-explode or payload-bearing relation.
    *
    * The width probe is PLAN-AWARE (round-16, ADVICE r15 item #1),
    * decided on the OPTIMIZED LOGICAL plan: a plan with a join,
    * aggregate, window, distinct, repartition, global sort or limit
    * repartitions unconditionally, since `df.rdd` on it would, under AQE,
    * materialize every query stage — a full duplicate execution
    * (measured on the IVF maintained-lists path: n12 0.56 s → 1.26 s;
    * and m10's survivor pipeline executed twice per run through r15) —
    * and its runtime width is AQE's byte-proxy coalescing, exactly the
    * wrong answer for the compute-dense kernels this helper feeds (the
    * spreadBy rationale). Only a scan/filter/project plan is probed
    * through `df.rdd`, which runs nothing. (The physical `sparkPlan`
    * lacks the join and aggregate exchanges on Spark 4.1.)
    * Do NOT hang it on a shared root relation consumed by many cheap
    * operators: each use inserts a repartition exchange, and for kernels
    * that were already sub-100 ms the extra stage is pure loss
    * (measured: n3 0.70 s → 1.27 s with a spread embeddings root,
    * reverted).
    *
    * And spread ONLY when the downstream per-row work clearly dominates
    * the spread's own cost: the single-file decode still runs in one
    * task (c3: a 0.94 s single-task aggregate became a 0.69 s
    * single-task repartition map — wall unchanged, reverted), and a
    * shuffle-row-fed Generate+partial-aggregate measured ~3× the task
    * time of its scan-rooted form (c17 16.2 s → 45.9 s, reverted). The
    * surviving uses are stages whose kernels ran seconds on one core
    * (m9 5.8 s, n2 3.1 s, the d-family candidate verifies).
    */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = df.sparkSession.sparkContext.defaultParallelism
    val shuffles = df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Distinct |
          _: RepartitionOperation | _: RebalancePartitions | _: GlobalLimit => true
      case s: Sort => s.global
      case _ => false
    }
    if (shuffles) df.repartition(target)
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** Key-partitioned sibling of [[spread]] for COMPUTE-DENSE JOIN inputs.
    * AQE coalesces post-shuffle partitions by BYTES, and bytes are a poor
    * compute proxy for this engine's candidate joins (narrow key rows
    * driving quadratic pair fan-out / array-intersection kernels) — the
    * d4 verify join measured 1.45 s of task time in ONE task over a
    * 1.06 MB shuffle. Repartitioning by the join key with an explicit
    * partition count is exactly what AQE leaves alone; using
    * max(defaultParallelism, spark.sql.shuffle.partitions) keeps it the
    * session's own scale knob rather than a local constant (at cluster
    * scale the same expression yields the cluster's parallelism). Trade
    * documented: pinning opts this exchange out of AQE skew splitting —
    * use only where per-key fan-out is already bounded (df-capped
    * postings, banded buckets).
    */
  def spreadBy(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val target = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "0").toInt)
    df.repartition(target, cols: _*)
  }

  /** Pinned as-of instant mid-way through the events horizon — stands in for
    * `now()` in the reference's activity queries (reference
    * `myapp/views.py:402,405,414,419`); SURVEY.md §7.4 determinism rule.
    */
  val AsOfMid = "2024-01-15 12:00:00"

  /** Pinned as-of after the full events horizon (events span Jan 2024) —
    * the single source of truth is [[graft.Catalog.AsOf]].
    */
  val AsOfEnd: String = graft.Catalog.AsOf
}
