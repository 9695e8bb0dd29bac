package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot diff + apply — change-data-capture between two versions of
  * a keyed dataset (corpus snapshots, dimension tables, index builds).
  * The pipeline use: recompute only what changed between crawls — feed
  * `diff`'s added/changed rows to the expensive downstream (dedup,
  * embeddings) instead of the whole corpus, and `apply` the changeset
  * to roll a served snapshot forward without rewriting it.
  *
  * Scale shape: ONE key-hash shuffle for the full outer join; wide rows
  * are compared by a 16-byte md5 digest computed MAP-SIDE before the
  * exchange decides changed-vs-unchanged, so the change test never
  * re-reads the payload columns. md5 (not xxhash64) for the same reason
  * the exact-dedup keeper uses it: any engine reproduces the digest.
  * Unchanged rows (the overwhelming majority between adjacent
  * snapshots) are filtered immediately after the join — the changeset
  * that flows downstream is delta-sized, not corpus-sized.
  */
object SnapshotDiff {

  /** Engine-portable row digest over `cols` in order: md5 of the
    * values cast to string, joined on 0x01 with NULL marked by 0x02
    * (concat_ws alone skips NULLs, which would conflate ("a",NULL,"b")
    * with ("a","b")).
    */
  def rowDigest(cols: Seq[Column]): Column =
    md5(concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*))

  /** Per-key changes from `oldDf` to `newDf`: rows tagged 'added',
    * 'removed', or 'changed' (unchanged keys are dropped). Output:
    * key columns, change_type, then old_/new_-prefixed copies of every
    * compare column (old_* NULL on adds, new_* NULL on removes) — a
    * changeset `apply` can replay.
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select(
      keyCols.map(col) ++
        compareCols.map(c => col(c).as(s"old_$c")) :+
        rowDigest(compareCols.map(col)).as("__oh"): _*)
    val n = newDf.select(
      keyCols.map(col) ++
        compareCols.map(c => col(c).as(s"new_$c")) :+
        rowDigest(compareCols.map(col)).as("__nh"): _*)
    val joined = o.join(n, keyCols, "full_outer")
    val change = when(col("__oh").isNull, lit("added"))
      .when(col("__nh").isNull, lit("removed"))
      .when(col("__oh") =!= col("__nh"), lit("changed"))
    joined
      .withColumn("change_type", change)
      .where(col("change_type").isNotNull)
      .select(keyCols.map(col) :+ col("change_type") :++
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** The (group, ±1, ±value) flow rows a changeset contributes to a
    * maintained (count, sum) view — the delta currency of incremental
    * view maintenance: each diff row contributes an outflow from its
    * OLD group (removed/changed: −1, −old value) and an inflow to its
    * NEW group (added/changed: +1, +new value) — a changed row that
    * moved groups naturally does both. Factored out so the STREAMING
    * maintainer (`streaming/StreamingViewMaintenance`) folds the
    * identical flows through a continuous aggregation.
    */
  def changeFlows(changes: DataFrame, groupCol: String, valCol: String,
      nCol: String = "n", sumCol: String = "s"): DataFrame = {
    val outflow = changes
      .where(col("change_type").isin("removed", "changed"))
      .select(col(s"old_$groupCol").as(groupCol),
        lit(-1L).as(nCol), (-col(s"old_$valCol")).cast("long").as(sumCol))
    val inflow = changes
      .where(col("change_type").isin("added", "changed"))
      .select(col(s"new_$groupCol").as(groupCol),
        lit(1L).as(nCol), col(s"new_$valCol").cast("long").as(sumCol))
    outflow.unionByName(inflow)
  }

  /** Incremental maintenance of a materialized (group → count, sum)
    * aggregate from a changeset — update the view WITHOUT rescanning
    * the base table (at 100 TB the base rescan is the cost; the delta
    * is diff-sized): fold [[changeFlows]] into the old view with one
    * group-sum. Groups whose maintained count reaches 0 drop out
    * (their sum is exactly 0 too — integer values by contract, the
    * order-free-sum rule). `groupCol` and `valCol` must be among the
    * diff's compare columns.
    *
    * Law (oracle-checked by q_incremental_agg, and by
    * q_stream_incremental_agg for the continuous maintainer):
    * maintain(agg(v1), diff(v1, v2)) ≡ agg(v2).
    */
  def maintainSumAgg(oldAgg: DataFrame, changes: DataFrame,
      groupCol: String, valCol: String,
      nCol: String = "n", sumCol: String = "s"): DataFrame = {
    oldAgg.select(col(groupCol), col(nCol), col(sumCol))
      .unionByName(changeFlows(changes, groupCol, valCol, nCol, sumCol))
      .groupBy(col(groupCol))
      .agg(sum(col(nCol)).as(nCol), sum(col(sumCol)).as(sumCol))
      .where(col(nCol) > 0)
  }

  /** Roll `oldDf` forward by a `diff` changeset: drop removed/changed
    * keys, append the new_* values of added/changed rows. Law (tested):
    * apply(old, diff(old, new)) ≡ new, row-for-row.
    */
  def apply(oldDf: DataFrame, changes: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val gone = changes
      .where(col("change_type").isin("removed", "changed"))
      .select(keyCols.map(col): _*)
    val incoming = changes
      .where(col("change_type").isin("added", "changed"))
      .select(keyCols.map(col) ++
        compareCols.map(c => col(s"new_$c").as(c)): _*)
    oldDf.select(keyCols.map(col) ++ compareCols.map(col): _*)
      .join(gone, keyCols, "left_anti")
      .unionByName(incoming)
  }

  /** Incremental maintenance of an inner-JOIN view V = A ⋈ B
    * (A.fkCol = B.bKey, aKey is A's primary key): roll the
    * materialized view forward from the two key-level changesets
    * alone — never recompute the full join. The keyed-view algebra:
    *
    *   V2 = V1 rows touched by NEITHER delta
    *      ∪ (A2 ⋉ ΔA-keys) ⋈ B2        — fact-side repairs
    *      ∪ (A2 ▷ ΔA-keys ⋉ ΔB-keys) ⋈ B2  — dim-side fanout repairs
    *
    * The three legs are key-disjoint by construction (in/out of ΔA,
    * then in ΔB), so the union needs no dedup; removed fact keys are
    * simply absent from A2, and a removed dim row drops its fanout via
    * the inner join — the same orphan semantics as the direct join.
    * Law (oracle-proven by q_incremental_join_view): maintain(A1⋈B1,
    * Δ) ≡ A2⋈B2, row-for-row.
    *
    * 100 TB shape: both anti/semi probes carry ONLY key columns —
    * small deltas broadcast, so V1 and A2 stream map-side; the only
    * wide work is re-joining the repaired slivers (|Δ| plus dim-change
    * fanout), vs. a full |A|⋈|B| recompute. The dim-delta leg pays one
    * pruned pass over A2 — with A bucketed/partitioned on fkCol that
    * pass prunes at the scan.
    */
  def maintainJoinView(view: DataFrame, a2: DataFrame, b2: DataFrame,
      aChangedKeys: DataFrame, bChangedKeys: DataFrame,
      aKey: String, fkCol: String, bKey: String): DataFrame = {
    val aKeys = aChangedKeys.select(col(aKey)).distinct()
    val bKeys = bChangedKeys.select(col(bKey)).distinct()
    val untouched = view
      .join(aKeys, Seq(aKey), "left_anti")
      .join(bKeys, view(fkCol) === bKeys(bKey), "left_anti")
    // view schema = A columns ∪ (B columns minus bKey) — the joined
    // fk column already carries the key
    val fromA = a2.join(aKeys, Seq(aKey), "left_semi")
      .join(b2, col(fkCol) === col(bKey)).drop(bKey)
    val fromB = a2.join(aKeys, Seq(aKey), "left_anti")
      .join(bKeys, a2(fkCol) === bKeys(bKey), "left_semi")
      .join(b2, col(fkCol) === col(bKey)).drop(bKey)
    untouched.unionByName(fromA).unionByName(fromB)
  }

  /** [[maintainJoinView]] in its DEPLOYMENT shape: A2/B2 stored
    * BUCKETED on the join key (Bucketing.writeBucketed — A2 on fkCol,
    * B2 on bKey, same bucket count) and the changed-key sets passed as
    * bounded literal lists. Two storage-level wins over the generic
    * frame version, both PlanSpec-asserted:
    *
    *  - the repair joins are co-located SMJs over the bucketed scans —
    *    ZERO exchange on either side of either leg (vs one broadcast
    *    per probe in the generic version);
    *  - the literal key filters compile to scan-level pushdown, and on
    *    the BUCKET column they prune whole buckets: the dim-fanout leg
    *    reads only |ΔB|'s buckets of A2 and B2
    *    (`SelectedBucketsCount: x out of n`), so delta-apply cost
    *    scales with |Δ|, not |A| (bucketed rung of JoinViewProbe @ c5f0dcc).
    *
    * Null fkCol rows never join (inner-join orphan semantics) but must
    * stay in the untouched leg exactly as the anti-join version keeps
    * them — literal NOT IN alone would null-drop them, hence the
    * explicit isNull escape.
    *
    * Key lists must be the bounded deltas the maintenance contract
    * already assumes (they broadcast in the generic version); a
    * thousand-key IN is a bitmap/sorted-array pushdown, not a plan
    * blowup.
    */
  def maintainJoinViewBucketed(view: DataFrame, a2: DataFrame,
      b2: DataFrame, aKeys: Seq[Long], bKeys: Seq[Long],
      aKey: String, fkCol: String, bKey: String): DataFrame = {
    val aLits = aKeys.map(lit(_))
    val bLits = bKeys.map(lit(_))
    def inA(c: Column) =
      if (aLits.isEmpty) lit(false) else c.isin(aLits: _*)
    def inB(c: Column) =
      if (bLits.isEmpty) lit(false) else c.isin(bLits: _*)
    def notIn(c: Column, in: Column => Column) =
      c.isNull || !in(c)
    val untouched = view
      .where(notIn(col(aKey), inA) && notIn(col(fkCol), inB))
    val fromA = a2.where(inA(col(aKey)))
      .join(b2, col(fkCol) === col(bKey)).drop(bKey)
    // fk ∈ ΔB ∧ fk = bk ⇒ bk ∈ ΔB: filtering B2 to the delta keys is
    // an identity on the join result and prunes B2's buckets too
    val fromB = a2.where(notIn(col(aKey), inA) && inB(col(fkCol)))
      .join(b2.where(inB(col(bKey))), col(fkCol) === col(bKey)).drop(bKey)
    untouched.unionByName(fromA).unionByName(fromB)
  }
}
