package graft.functions.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Bounded-state per-group top-k — the aggregation that replaces a
  * sort-based `row_number() <= k` window on a corpus-scale frame.
  *
  * Why this exists (round 11, measured): the cell-cogrouped kNN join's
  * per-query top-k compiled to `Sort → WindowGroupLimit(Partial) →
  * Exchange → …`. The group-limit prune is map-side, but it is
  * SORT-BASED — the local Sort materializes the ENTIRE scored-pair
  * volume per task before the prune can drop anything. At 60× the sf0.1
  * corpus the gate-mode kNN join scores ~10.8G pairs, and the
  * UnsafeExternalSorter spill for that sort filled 79 GB of local disk
  * and killed the job (`SPILL_OUT_OF_MEMORY … No space left on device`,
  * BENCH_SCALE round-11 note). The same shape at 100 TB is a
  * cluster-wide disk stampede: the shuffle-spill footprint equals the
  * full candidate volume instead of the O(|groups|·k) answer.
  *
  * Catalyst's `CollectTopK` is Spark's own fix for this exact pattern (it is what
  * `ALSModel.recommendForAll` uses instead of a ranking window): a
  * `BoundedPriorityQueue(k)` per group key inside ObjectHashAggregate —
  * partial map-side heaps, a shuffle of at most `tasks × k` rows per
  * group, and ZERO materialization of the candidate volume. State per
  * task is bounded by (groups present in task) × k.
  *
  * Ordering contract: `child`'s type ordering, lexicographic for
  * structs. `reverse = false` keeps the k LARGEST and `eval` returns
  * them sorted DESCENDING (pinned empirically by TopKAggregateSpec
  * against the window formulation — ties and short groups included).
  * Mixed-direction tie-breaks are encoded by negating the tie column:
  * `struct(sim, -vec_id)` descending == (sim DESC, vec_id ASC), the
  * exact (rank, tie) order of the window it replaces.
  */
object TopKAggregate {

  /** The floor [[perGroupTopK]] raises
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` to.
    *
    * Why it must be raised at all: ObjectHashAggregate's default
    * fallback (128 distinct keys per task) converts the REMAINING input
    * to sort-based processing — i.e. it reintroduces the exact
    * candidate-volume sort this aggregation exists to avoid, after the
    * first 128 groups. The default predates bounded buffers like
    * collect_top_k's k-heap (~1 KB per group).
    *
    * Why 2^20 and not more (round-12, ADVICE): groups-per-task is
    * bounded by rows-per-task — a 128 MB input split of narrow score
    * rows holds a few million rows, and every measured engine path sits
    * far below the floor (q68's 60× gate holds ~300 K query groups
    * TOTAL across all tasks; the defaults serve path fewer). At the
    * floor, worst-case bounded-heap state is 2^20 × ~1 KB ≈ 1 GB/task
    * against 4 GB/thread on the bench box — the previous 2^21 doubled
    * that exposure for no measured benefit.
    *
    * BLAST RADIUS (this is a SESSION-WIDE conf, set once and kept): the
    * threshold also governs every other ObjectHashAggregate in the
    * session, including unbounded-buffer aggregates (`collect_list` /
    * `collect_set` — e.g. the ground-truth set builds and Rerank's
    * per-query lists), for which the 128-key early fallback is a
    * memory-safety valve: with the raised floor a task may hold up to
    * 2^20 GROWING collect buffers before falling back to sort. The
    * engine's own unbounded-collect aggregates operate on frames whose
    * per-group buffers are small (tens of entries) and stay correct
    * under the floor (TopKAggregateSpec pins this); a session that
    * aggregates huge collect buffers under memory pressure should lower
    * the conf back after the top-k action completes. */
  val FallbackThresholdFloor: Long = 1L << 20

  /** `collect_top_k(child, k, reverse)` as a Column aggregate.
    * `reverse = false` → the k largest, returned sorted descending. */
  def collectTopK(child: Column, k: Int, reverse: Boolean): Column =
    ColumnBridge.column(
      ColumnBridge.collectTopK(ColumnBridge.expression(child), k, reverse))

  /** Per-`group` top-k rows under (`ord` DESC, `id` ASC) — the drop-in,
    * disk-bounded replacement for
    * `row_number().over(Window.partitionBy(group).orderBy(ord.desc,
    * id.asc)) <= k` on frames whose row count is candidate-sized.
    * Output columns keep the input names plus `rnk` (1-based, same rank
    * the window assigned). `id` MUST be numeric (enforced — the mixed
    * sort direction is encoded by negation, and under non-ANSI mode a
    * negated string silently yields NULL ids); every column other than
    * (group, id, ord) is pruned — re-attach small per-group payloads by
    * joining the k-sized output, not by carrying them through the heap.
    *
    * Side effect: raises the session's ObjectHashAggregate sort-fallback
    * threshold to [[FallbackThresholdFloor]] (never lowers it) — see
    * that value's doc for the justification and the cross-operator
    * blast radius. */
  def perGroupTopK(df: DataFrame, group: String, id: String, ord: String,
                   k: Int): DataFrame = {
    // Id contract (ADVICE r12): numeric is CHECKED (a non-numeric id
    // negates to NULL under non-ANSI mode — silent corruption); the two
    // residual hazards the type check cannot see are part of the
    // documented contract instead: a NULL id value negates to NULL and
    // sorts in the wrong tie position, and Long.MinValue negates to
    // ITSELF (two's complement), inverting its tie rank. Every caller
    // here feeds non-null surrogate/natural keys ≥ 0; callers with
    // nullable ids must coalesce first (a per-row assert_true would put
    // a non-codegen throw expression in the hot aggregation path for a
    // contract violation no in-tree caller can produce).
    require(df.schema(id).dataType.isInstanceOf[NumericType],
      s"perGroupTopK id column '$id' must be numeric (got " +
        s"${df.schema(id).dataType.simpleString}): the (ord DESC, id ASC) " +
        "tie order is encoded by negating id, and negating a non-numeric " +
        "column yields NULL under non-ANSI mode — silently corrupting " +
        "every output id. Map the id to a numeric surrogate first. Ids " +
        "must also be non-null and (for longs) not Long.MinValue — NULL " +
        "negates to NULL and MinValue negates to itself, both corrupting " +
        "the tie order.")
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (df.sparkSession.conf.get(fallbackKey, "128").toLong < FallbackThresholdFloor)
      df.sparkSession.conf.set(fallbackKey, FallbackThresholdFloor.toString)
    // every struct field gets a reserved name: a caller's ord column
    // literally named "nid" would otherwise collide with the tie field
    // and resolve the extraction ambiguously (round-11 ADVICE)
    val fields = struct(col(ord).as("__o"), (-col(id)).as("__nid"))
    df.groupBy(group)
      .agg(collectTopK(fields, k, reverse = false).as("__tk"))
      .select(col(group), posexplode(col("__tk")).as(Seq("__p", "__e")))
      .select(col(group), (-col("__e.__nid")).as(id), col("__e.__o").as(ord),
        (col("__p") + 1).cast("int").as("rnk"))
  }
}
