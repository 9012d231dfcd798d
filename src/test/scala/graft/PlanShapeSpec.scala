package graft

import graft.ops.Ops
import org.apache.spark.sql.functions.col

/** Physical-plan regression guards (the 100 TB review loop, pinned): a
  * future refactor that silently loses filter pushdown, broadcasts a big
  * side, or reintroduces a join explosion fails here, not at scale.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q01: filter pushed to the parquet scan; columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // projection never reads unused columns (e.g. l_comment-like widths)
    assert(p.contains("ReadSchema") && !p.contains("l_partkey"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q09: every dimension join is a broadcast hash join") {
    val p = plan("q09_dim_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q13: range join runs as a hash join, not a nested loop") {
    val p = plan("q13_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"), p)
  }

  test("q14: merge as-of join shuffles exactly once (no join explosion)") {
    val p = plan("q14_asof_join")
    assert(!p.contains("Join"), p) // union+window form — no join operator at all
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(p.contains("Window"), p)
  }

  test("q16: dedup-latest is one shuffle + one window") {
    val p = plan("q16_dedup_latest")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q02: event pivot is partial+final hash aggregation") {
    val p = plan("q02_event_state_pivot")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q31: LSH candidate pairs dedup as hash aggregate (no array sort-agg)") {
    val p = plan("q31_minhash_pairs")
    assert(!p.contains("SortAggregate"), p)
  }

  test("q48: hyperplane signatures compute once behind the checkpoint barrier") {
    // the signature frame is localCheckpoint-ed before the self-join, so
    // the executed plan must read the materialized RDD — a
    // graft_hyperplane_sig call in the plan would mean the expression
    // re-evaluates (on both join sides, the round-2 hot spot)
    val p = plan("q48_embed_dup_lsh")
    assert(!p.contains("graft_hyperplane_sig"), p)
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"), p)
  }

  test("q17/q53: global percent_rank plans have NO single-partition window") {
    // `Window.orderBy(x)` (no partitionBy) plans an Exchange SinglePartition
    // under WindowExec — the whole table onto one core. The distributed
    // global-rank rewrite must never produce that shape.
    for (q <- Seq("q17_window_suite", "q53_rfm_segmentation")) {
      val p = plan(q)
      val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windowLines.nonEmpty, p)
      // a WindowExec line prints `Window [exprs], [partitionSpec], [orderSpec]`
      // (order spec omitted for frame-only windows, partition spec omitted
      // for GLOBAL windows). After the expr list, a lone group containing a
      // sort direction = an order spec with no partition spec = global.
      windowLines.foreach { line =>
        val specs = line.substring(line.indexOf("], [") + 4)
          .stripSuffix("]").split("\\], \\[").toSeq
        val isGlobal = specs.size == 1 && (specs.head.contains(" ASC") || specs.head.contains(" DESC"))
        assert(!isGlobal, s"$q has an unpartitioned (single-partition) window:\n$line")
      }
      // the local-rank pass runs as a map over the checkpointed
      // range-partitioned frame — a rank window partitioned by __pid
      // would mean the full-width second shuffle (the round-14 removal)
      // crept back in; the only __pid work left is the counts branch's
      // tiny per-partition-count aggregate
      assert(!p.contains("windowspecdefinition(__pid"), p)
      assert(p.contains("MapPartitions"), p)
    }
  }

  test("q53: offset table joins back as a broadcast (no full-width extra shuffle)") {
    val p = plan("q53_rfm_segmentation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q51: single-parse payload decode is map-only with a pruned scan") {
    val p = plan("q51_json_payload")
    assert(!p.contains("Exchange"), p) // zero shuffles: scan → project
    assert(p.contains("ReadSchema") && !p.contains("o_comment"), p)
    // the locally-built payload's serialize+parse roundtrip folds away
    // (ElideJsonRoundtrip — SPARK-32948 ported to the runtime-replaced
    // to_json form), leaving a plain whole-stage-codegen projection
    assert(!p.contains("from_json"), p)
    assert(!p.contains("StructsToJsonEvaluator"), p)
  }

  test("fullOuterUsing: one null-safe full outer sort-merge join, 4 exchanges") {
    // the pre-rewrite q12 shape, pinned here since q12 no longer calls it:
    // each aggregate shuffles by its key, then both sides re-shuffle by the
    // null-safe key shape hash(coalesce(k, 0), isnull(k)) for the join
    val orders = Tables.read(spark, dir, "orders")
    def byStatus(s: String, n: String) = orders
      .filter(col("o_orderstatus") === s)
      .groupBy(col("o_custkey").as("custkey"))
      .count().withColumnRenamed("count", n)
    val p = Ops.fullOuterUsing(byStatus("F", "n_f"), byStatus("O", "n_o"), Seq("custkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 4, p)
    assert(!p.contains("Broadcast"), p)
  }

  test("q56: corpus-clean chain shuffles only for the dedup key") {
    val p = plan("q56_corpus_clean")
    // quality/langid scoring fuses into the scan; the one full-width
    // exchange is the dedup fingerprint window
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("SortAggregate"), p)
  }
}
