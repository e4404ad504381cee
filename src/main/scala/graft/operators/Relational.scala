package graft.operators

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators Spark lacks as built-ins, in their scale-correct
  * shapes (SURVEY.md §2.5 names these as the extension surface; neither
  * exists in the reference, which never joins events at all).
  */
object Relational {

  /** Point-in-time (as-of) join: for each probe row, attach the values of
    * the single most recent changelog row with the same key and
    * `ts <= probe.ts` (left semantics — probes with no prior state keep
    * NULL values).
    *
    * Spark has no ASOF JOIN. The naive encodings either explode (non-equi
    * theta join: per-key cross product, then argmax) or serialize (global
    * sort). This is the scale shape: ONE shuffle by key — both sides
    * union'd with a side marker, sorted within key by `(ts, marker)`
    * (changelog first at equal ts, so "at or before" includes same-instant
    * state), and the changelog payload carried forward with
    * `last(_, ignoreNulls)` over the running window. Each input row appears
    * exactly once; the per-key state is one row of carried values.
    *
    * The changelog should be unique per (key, ts) — dedup upstream
    * (e.g. `groupBy(key, ts).agg(max(...))`) for deterministic output.
    *
    * Hot-key caveat (inherent to ANY per-key ordered carry-forward,
    * including a native ASOF JOIN): a pathologically hot key funnels that
    * key's entire history through one task — the window sort is
    * O(n log n) per key on one core, not parallelized. If one key can hold
    * a material fraction of rows, set `saltBuckets > 1`: probes spread
    * across `saltBuckets` sub-partitions of their key (deterministic row
    * hash) while the changelog replicates into every sub-partition, so
    * each salt still carries the key's full state and the output is
    * IDENTICAL to the unsalted join — the cost is `saltBuckets`× changelog
    * shuffle volume (changelogs are usually the small side). The
    * adversarial shape (one key = 50% of rows) is measured in
    * RelationalSpec for both paths, keeping the funnel's cost visible
    * rather than assumed. */
  def asofJoin(probe: DataFrame, changelog: DataFrame, keyCol: String,
               tsCol: String, valueCols: Seq[String],
               saltBuckets: Int = 1,
               direction: String = "backward"): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward or forward, got $direction")
    if (saltBuckets > 1) {
      // composite (key, salt) partitioning: probes hash-salted, changelog
      // replicated per salt; delegate to the unsalted path on a packed key
      val pSalted = probe.withColumn("__salt",
        pmod(xxhash64(struct(probe.columns.map(col).toSeq: _*)), lit(saltBuckets)))
      val clSalted = changelog.withColumn("__salt",
        explode(sequence(lit(0L), lit(saltBuckets - 1L))))
      def packed(df: DataFrame): DataFrame = df
        .withColumn("__sk", struct(col(keyCol), col("__salt"))).drop("__salt")
      asofJoin(packed(pSalted), packed(clSalted), "__sk", tsCol, valueCols,
          saltBuckets = 1, direction = direction)
        .drop("__sk")
    } else asofJoinUnsalted(probe, changelog, keyCol, tsCol, valueCols,
        direction)
  }

  private def asofJoinUnsalted(probe: DataFrame, changelog: DataFrame,
                               keyCol: String, tsCol: String,
                               valueCols: Seq[String],
                               direction: String): DataFrame = {
    val probeCols = probe.columns.toSeq
    require(!probeCols.exists(valueCols.contains),
      s"value columns ${valueCols.intersect(probeCols)} collide with probe columns")
    val pStructType = org.apache.spark.sql.types.StructType(probe.schema.fields)
    val vStructType = org.apache.spark.sql.types.StructType(
      changelog.select(valueCols.map(col): _*).schema.fields)
    val cl = changelog.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(0).as("__m"),
      struct(valueCols.map(col): _*).cast(vStructType).as("__v"),
      lit(null).cast(pStructType).as("__p"))
    val pr = probe.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(1).as("__m"),
      lit(null).cast(vStructType).as("__v"),
      struct(probe.columns.map(col).toSeq: _*).as("__p"))
    // backward: changelog (__m=0) sorts BEFORE the probe at equal ts, and
    // the latest prior value carries forward over the preceding frame.
    // forward: probe sorts BEFORE the changelog at equal ts (so "at or
    // after" includes same-instant state) and the EARLIEST following value
    // is taken over the following frame — the mirror image, same single
    // shuffle, same one-row-per-key state.
    val (w, carried) =
      if (direction == "backward") (
        Window.partitionBy("__k").orderBy(col("__ts").asc, col("__m").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow),
        last(col("__v"), ignoreNulls = true))
      else (
        Window.partitionBy("__k").orderBy(col("__ts").asc, col("__m").desc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing),
        first(col("__v"), ignoreNulls = true))
    cl.unionByName(pr)
      .withColumn("__vf", carried.over(w))
      .where(col("__m") === 1)
      .select(probeCols.map(c => col("__p").getField(c).as(c)) ++
              valueCols.map(v => col("__vf").getField(v).as(v)): _*)
  }

  /** As-of join with a match-gap TOLERANCE (pandas `merge_asof(tolerance=)`
    * semantics): the nearest prior (or following) state counts only when
    * it is within `tolerance` time units of the probe — stale state is as
    * good as no state for feature joins ("the sensor reading at or before
    * the event, but only if fresher than 5 min"). Composed over the
    * single-shuffle [[asofJoin]] carry: the changelog timestamp rides
    * along as a carried value, and the tolerance check is a row-local
    * projection afterwards — same one shuffle, same per-key one-row
    * state; out-of-tolerance probes keep NULL values (left semantics).
    * Output = probe columns + `valueCols` + `match_ts` (the matched
    * changelog timestamp, NULL when no match or out of tolerance). */
  def asofJoinTolerance(probe: DataFrame, changelog: DataFrame,
                        keyCol: String, tsCol: String, valueCols: Seq[String],
                        tolerance: Long, saltBuckets: Int = 1,
                        direction: String = "backward"): DataFrame = {
    require(tolerance >= 0, s"tolerance must be >= 0, got $tolerance")
    val mts = "__match_ts"
    val joined = asofJoin(probe, changelog.withColumn(mts, col(tsCol)),
      keyCol, tsCol, valueCols :+ mts, saltBuckets, direction)
    val gap = if (direction == "backward") col(tsCol) - col(mts)
              else col(mts) - col(tsCol)
    val inTol = col(mts).isNotNull && gap <= tolerance
    joined.select(
      probe.columns.toSeq.map(col) ++
      valueCols.map(v => when(inTol, col(v)).otherwise(lit(null)).as(v)) :+
      when(inTol, col(mts)).otherwise(lit(null)).as("match_ts"): _*)
  }

  /** Range (interval) join: probe rows matched to every interval
    * `[startCol, endCol)` of the same key that contains `ts`. Spark plans a
    * raw non-equi condition as a broadcast-nested-loop or per-key cross
    * product; binning makes it an EQUI-join — each interval is exploded to
    * the fixed-width time bins it overlaps (intervals are usually short, so
    * a handful of rows each), probes join on (key, bin), and the residual
    * containment predicate filters exact matches. Pick `binWidth` around
    * the typical interval length: shuffle volume grows with
    * intervalLength/binWidth, candidate fan-out with binWidth×density. */
  def rangeJoinBinned(probe: DataFrame, probeTs: String,
                      intervals: DataFrame, startCol: String, endCol: String,
                      keyCol: Option[String], binWidth: Long,
                      maxBinsPerInterval: Long = 100000L): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    require(maxBinsPerInterval > 0, "maxBinsPerInterval must be positive")
    // integer (DIV) bin arithmetic — float division would lose precision on
    // large epoch values and mis-bin boundary timestamps
    val binLo = expr(s"CAST($startCol AS BIGINT) DIV $binWidth")
    // end is exclusive: the last overlapped bin is (end-1) DIV width
    val binHi = greatest(expr(s"(CAST($endCol AS BIGINT) - 1) DIV $binWidth"),
                         expr(s"CAST($startCol AS BIGINT) DIV $binWidth"))
    // ONE corrupt interval (end = Long.MaxValue, or a nanos-vs-millis unit
    // mixup) would otherwise ask sequence() for ~2^63/binWidth elements and
    // kill the whole job deep in an executor; fail loudly with the row's
    // numbers instead, like the dedup family's bucket caps
    val guarded = when(binHi - binLo < maxBinsPerInterval, binHi)
      .otherwise(raise_error(concat(
        lit(s"rangeJoinBinned: interval spans "), (binHi - binLo + 1).cast("string"),
        lit(s" bins (> $maxBinsPerInterval) at binWidth=$binWidth — corrupt " +
            "interval or unit mismatch; raise maxBinsPerInterval if intended"))))
    val iv = intervals.withColumn("__bin_i", explode(sequence(binLo, guarded)))
    val pr = probe.withColumn("__bin_p",
      expr(s"CAST($probeTs AS BIGINT) DIV $binWidth"))
    val cond = pr("__bin_p") === iv("__bin_i") &&
      pr(probeTs) >= iv(startCol) && pr(probeTs) < iv(endCol) &&
      keyCol.map(k => pr(k) === iv(k)).getOrElse(lit(true))
    val joined = pr.join(iv, cond).drop("__bin_p", "__bin_i")
    // the interval side's key equals the probe's by the join condition —
    // drop it so the key is unambiguous for downstream select/groupBy
    keyCol.map(k => joined.drop(iv(k))).getOrElse(joined)
  }

  /** Materialize `df` as a bucketed + per-bucket-sorted parquet table —
    * the pay-the-shuffle-ONCE half of a co-located join. Two tables
    * bucketed on their join keys with the same bucket count join with ZERO
    * exchanges forever after (Spark treats the bucket layout as
    * pre-shuffled `HashPartitioning`); at 100 TB this converts every
    * repeated fact-to-fact join on the distribution key from a full-data
    * shuffle into a scan-local merge. The bucket COUNT is the contract:
    * pick it once per subject area (e.g. 4096 at production scale) and
    * reuse it for every table that joins on that key.
    *
    * `path` must be a writable location; re-materializing overwrites both
    * the files and the catalog entry (idempotent refresh). Returns the
    * catalog-backed frame whose scans carry the bucket metadata. */
  /** Materialize `df` partitioned by a low-cardinality column — the
    * directory-layout half of storage design (bucketing handles join keys;
    * partitioning handles FILTER keys). Queries filtering on `partCol`
    * prune whole directories at planning time (`PartitionFilters` in the
    * scan, zero IO for excluded partitions) — at 100 TB, partitioning by
    * ingest date/source is the difference between scanning a day and
    * scanning the corpus. Keep `partCol` cardinality bounded (dates,
    * sources, languages — never ids): each value is a directory. */
  def partitionMaterialize(df: DataFrame, table: String, partCol: String,
                           path: String): DataFrame = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.mode("overwrite").format("parquet")
      .partitionBy(partCol)
      .option("path", path)
      .saveAsTable(table)
    spark.table(table)
  }

  /** 16-bit Morton spread — insert a zero bit between each of the low 16
    * bits via the classic magic-mask ladder. Pure builtin bitwise
    * expressions: whole-stage codegen compiles it to five shift/mask ops,
    * and the DuckDB oracle replays the identical integer arithmetic. */
  private def part1by1(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 2-D Z-order (Morton) curve value over the low 16 bits of two
    * non-negative integer columns: bit-interleaved so that sorting by the
    * result clusters rows that are close in BOTH dimensions. */
  def zorderValue(x: Column, y: Column): Column =
    part1by1(x).bitwiseOR(shiftleft(part1by1(y), 1))

  /** Z-order clustered layout — the third leg of storage design next to
    * [[partitionMaterialize]] (directory pruning on ONE low-cardinality
    * key) and [[bucketMaterialize]] (join co-location on ONE distribution
    * key): rows are sorted along the 2-D Morton curve of `(xCol, yCol)`
    * and range-partitioned into `files` output files, so each file covers
    * a compact rectangle of the (x, y) space and its parquet column
    * min/max footer stats become tight 2-D bounding boxes. A query boxed
    * on BOTH dimensions then skips the row groups/files whose stats miss
    * the box — multi-dimensional data skipping where a single-column sort
    * only helps its leading dimension (the OPTIMIZE ZORDER BY layout of
    * the lakehouse engines, expressed as plain sort arithmetic).
    *
    * Scale shape: one range repartition + within-partition sort — the
    * same one-off ingest cost as bucketing, amortized over every
    * subsequent boxed scan. The curve value is five shift/mask ops per
    * row, codegen'd; no shuffle beyond the layout write itself. */
  def zorderMaterialize(df: DataFrame, xCol: String, yCol: String,
                        path: String, files: Int): DataFrame = {
    require(files > 0, s"files must be positive, got $files")
    df.withColumn("zval", zorderValue(col(xCol), col(yCol)))
      .repartitionByRange(files, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Flatten an id → parent hierarchy to (id, root, depth) in
    * O(log depth) self-joins — Spark's scale answer to a `WITH RECURSIVE`
    * ancestor walk (which Spark SQL lacks, and which a naive per-level
    * loop would run in O(depth) shuffles; a 64-deep BOM chain costs 6
    * doubling rounds here, not 64).
    *
    * Pointer doubling: the state table maps every node to an ancestor
    * exactly `min(2^k, distance-to-root)` steps up plus the step count;
    * each round composes the state with itself (`anc ← state[anc]`,
    * `depth ← depth + state[anc].depth`). Roots map to themselves at
    * depth 0, so composition is idempotent once the root is reached.
    * All-integer state — deterministic under any scheduling.
    *
    * Scale shape: each round is ONE equi-join of the slim
    * (id, anc, depth) state with itself re-keyed by `anc` — no windows,
    * no bodies, no driver data; round outputs are cut so lineage stays
    * O(1). `maxDoublings` rounds reach depth `2^maxDoublings`; the
    * fixpoint is then VERIFIED (count of rows whose ancestor still has a
    * parent) and the operator fails loudly rather than returning a
    * half-flattened hierarchy if the tree is deeper.
    *
    * `nodes(idCol, parentCol)`: one row per node, `parentCol` NULL for
    * roots. Cycles never converge and are reported by the same loud
    * check. */
  def hierarchyFlatten(nodes: DataFrame, idCol: String, parentCol: String,
                       maxDoublings: Int = 6): DataFrame = Materialize.scope {
    require(maxDoublings >= 1 && maxDoublings <= 20,
      s"maxDoublings must be in [1, 20], got $maxDoublings")
    val base = Materialize.cut(nodes.select(
      col(idCol).as("id"),
      coalesce(col(parentCol), col(idCol)).as("anc"),
      when(col(parentCol).isNull, lit(0L)).otherwise(lit(1L)).as("depth")))
    var state = base
    for (_ <- 1 to maxDoublings) {
      val lookup = state.select(col("id").as("anc"),
        col("anc").as("anc2"), col("depth").as("d2"))
      val next = Materialize.cut(state.join(lookup, "anc")
        .select(col("id"), col("anc2").as("anc"),
          (col("depth") + col("d2")).as("depth")))
      if (state ne base) Materialize.release(state)
      state = next
    }
    // loud fixpoint check: every final ancestor must be a root (its base
    // row has depth 0 — for roots anc = id with no step taken)
    val unresolved = state.join(
        base.where(col("depth") > 0).select(col("id").as("anc")),
        Seq("anc"), "left_semi")
      .count()
    if (unresolved > 0L)
      throw new IllegalStateException(
        s"hierarchyFlatten: $unresolved nodes deeper than 2^$maxDoublings " +
        "(or a parent cycle) — raise maxDoublings or break the cycle")
    Materialize.result(state.select(col("id"), col("anc").as("root"), col("depth")))
  }

  def bucketMaterialize(df: DataFrame, table: String, key: String,
                        buckets: Int, path: String): DataFrame = {
    val spark = df.sparkSession
    // an existing catalog entry may point at a stale schema/path — drop it
    // first so overwrite cannot half-apply (saveAsTable validates against
    // the registered table, not the files)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)
    spark.table(table)
  }

  /** Per-column ingest-QA profile — the first report a pipeline runs on a
    * newly-landed table (the relational sibling of `Similarity.embeddingQa`):
    * one output row per profiled column with row/null/distinct counts and
    * min/max. Callers pass NORMALIZED projections (money as BIGINT cents,
    * dates as ISO strings) — min/max compute on the typed value and only
    * the RESULT is string-rendered, so numeric columns get numeric
    * extrema (a lexicographic min of stringified numbers would rank "10"
    * under "9") while the rendering stays cross-engine stable.
    *
    * TWO aggregate passes, deliberately: the scalar metrics (count/nulls/
    * extrema — a plain codegen'd hash aggregate) and the multi-column
    * distinct counts (one Expand + partial/final aggregate, each row
    * fanning to #cols slim rows map-side) run as SEPARATE single-row
    * aggregates cross-joined at the end. Mixing them into one `agg` makes
    * Spark thread every scalar aggregate through the distinct rewrite's
    * Expand — measured 10.8 s vs 0.98 + 1.89 s split at sf0.1 — so the
    * split IS the fast plan, not a compromise. Both results are one row;
    * the crossJoin is a broadcast of a scalar. Unpivot via explode — no
    * driver loop. */
  def profileTable(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.nonEmpty, "profileTable: no columns given")
    val base = df.select(cols.map { case (n, c) => c.as(n) }: _*)
    val scalarMetrics = cols.flatMap { case (n, _) => Seq(
      sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"__nn_$n"),
      min(col(n)).cast("string").as(s"__mn_$n"),
      max(col(n)).cast("string").as(s"__mx_$n")) }
    val distinctMetrics = cols.map { case (n, _) =>
      countDistinct(col(n)).as(s"__nd_$n") }
    val scalars = base.agg(count(lit(1L)).as("n_rows"), scalarMetrics: _*)
    val distincts = base.agg(distinctMetrics.head, distinctMetrics.tail: _*)
    val one = scalars.crossJoin(broadcast(distincts))
    val structs = cols.map { case (n, _) =>
      struct(lit(n).as("column"), col(s"__nn_$n").as("n_nulls"),
             col(s"__nd_$n").as("n_distinct"), col(s"__mn_$n").as("min_str"),
             col(s"__mx_$n").as("max_str")) }
    one.select(col("n_rows"), explode(array(structs: _*)).as("m"))
      .select(col("m.column").as("column"), col("n_rows"),
              col("m.n_nulls").as("n_nulls"),
              col("m.n_distinct").as("n_distinct"),
              col("m.min_str").as("min_str"), col("m.max_str").as("max_str"))
  }
}
