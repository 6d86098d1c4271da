package graft.operators

import graft.{Q, Tables}
import graft.Dsl._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Persisted maintained rollup — a materialized aggregate over the
  * events fact table keyed (day, event_type), carrying the four
  * q189/q243 aggregates: row count, EXACT decimal sum, min, max. The
  * maintenance twin of the five persisted index lifecycles
  * ([[LshBandIndex]], [[IvfIndex]], [[IvfPq]], [[Bm25Index]],
  * [[PrevalenceIndex]]): the fact table is scanned once at [[build]];
  * afterwards the store absorbs each ingest batch via [[append]]
  * (partial-state merge, the q189 math — count/sum add, min/max
  * least/greatest) and each right-to-be-forgotten request via
  * [[delete]] (retraction, the q243 math — count/sum subtract exactly;
  * min/max are NOT retractable from partials, so they are repaired
  * from a surviving-facts re-read pruned to the affected groups).
  * Groups retracted to n = 0 leave the store.
  *
  * At 100 TB this is the pattern that makes a day-level dashboard or
  * training-mix accounting table affordable: maintenance cost scales
  * with the BATCH (append) or the FORGET SLICE + affected groups
  * (delete), never with the accumulated fact history. The store itself
  * is |days|·|types| rows — readable in one task at any event volume.
  *
  * Crash-safety comes from the [[IndexManifest]] commit layer (the
  * same mechanism as the five index lifecycles): every mutation stages
  * the next table state as an immutable segment and publishes it with
  * ONE atomic manifest rename carrying the op marker — a crash at any
  * point leaves the previous state fully live (no torn table, no
  * reader-racing rename window), and [[recover]] is just an orphan
  * vacuum. All maintenance holds the [[MaintenanceLock]] lease.
  * RollupStoreSpec injects crashes at every point and pins the full
  * lifecycle bit-equal to the q245 declarative twin and to a
  * from-scratch recompute.
  *
  * Provenance: generalizes the reference's per-minute aggregation
  * dashboard feed (consumer.py:95-118) into a maintained, deletable
  * table. */
object RollupStore {

  private val SumT = DecimalType(28, 4)

  private def dayCol: Column = date_trunc("day", col("ts")).as("day")

  /** Partial state for a slice of facts — the mergeable form (n and
    * the exact decimal sum are group-addable; mn/mx are least/greatest
    * mergeable but not subtractable). */
  private[operators] def partials(ev: DataFrame): DataFrame =
    ev.select(dayCol, col("event_type"), col("value"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Dec)).cast(SumT).as("s"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))

  /** One fact scan → the stored table (one segment + manifest commit). */
  def build(spark: SparkSession, facts: DataFrame, dir: String): Unit =
    buildAtomic(spark, facts, dir)

  /** [[build]] carrying an op marker, so the marker lands WITH the
    * initial table — the first streaming batch needs this (a crash
    * between a plain build and a separate marker stamp would
    * double-apply that batch on replay). Under the manifest every
    * build is atomic; this name survives for the callers. */
  def buildAtomic(spark: SparkSession, facts: DataFrame, dir: String,
      opId: Option[Long] = None): Unit =
    MaintenanceLock.withLock(spark, dir) {
      writeSwap(spark, partials(facts), dir, _ => (), opId)
    }

  /** The maintained table, in its presentation form (exact decimal sum
    * surfaced as the bit-stable split double — the q189 convention).
    * Single-table, so one pinned snapshot is trivially consistent —
    * kept on the same [[IndexManifest.snapshot]] entry point as the
    * multi-table lifecycles for uniformity. */
  def query(spark: SparkSession, dir: String): DataFrame =
    querySnapshot(spark, dir, IndexManifest.snapshot(spark, dir))

  /** [[query]] against an explicitly pinned snapshot. */
  def querySnapshot(spark: SparkSession, dir: String,
      snap: IndexManifest.Snapshot): DataFrame =
    IndexManifest.readRequired(spark, dir, snap, "rollup")
      .select(col("day"), col("event_type"), col("n").as("n_events"),
        splitDbl(col("s")).as("sum_value"),
        col("mn").as("min_value"), col("mx").as("max_value"))
      .orderBy("day", "event_type")

  /** Time-travel query: the rollup as it stood at manifest `version` —
    * the diff-a-dashboard-against-yesterday's-state tool (a bad append
    * shows up as the delta between head and the retained pre-append
    * version, no recompute); None once the version is vacuumed past
    * the retention horizon ([[graft.operators.Bm25Index.probeAt]]'s
    * convention across the lifecycles). */
  def queryAt(spark: SparkSession, dir: String, version: Long)
      : Option[DataFrame] =
    IndexManifest.loadAt(spark, dir, version)
      .map(querySnapshot(spark, dir, _))

  // ------------------------------------------------------------------
  // Exactly-once maintenance: every mutating op may carry a MONOTONIC
  // op id (a streaming batchId, an ingest-manifest sequence number).
  // The id rides the manifest version, so it travels ATOMICALLY with
  // the data: a crash before the commit loses segment+marker together
  // (replay re-applies), a crash after it publishes data+marker
  // together (replay is skipped). A blind re-run with the same op id
  // is thus always correct (RollupStoreSpec pins both crash sides and
  // a double-apply).
  // ------------------------------------------------------------------

  /** Last applied maintenance op id, or None for a fresh store. */
  def appliedOp(spark: SparkSession, dir: String): Option[Long] =
    IndexManifest.appliedOp(spark, dir)

  /** Merge an ingest batch into the store (q189 partial-state merge:
    * counts and exact sums add; min/max take least/greatest — valid
    * because append never removes rows). Cost: one pass over the BATCH
    * plus a store-sized merge — the fact history is never re-read.
    *
    * With `opId` set, the append is EXACTLY-ONCE under replay: ids at
    * or below the store's `_applied_op` marker are skipped (returns
    * false), and the marker swaps atomically with the table (see the
    * marker note above). Without an id the caller owns replay safety
    * (an upstream dedup gate — the [[graft.streaming.IngestPipeline]]
    * convention). */
  def append(spark: SparkSession, batch: DataFrame, dir: String,
      opId: Option[Long] = None): Boolean =
    appendImpl(spark, batch, dir, _ => (), opId)

  private[graft] def appendImpl(spark: SparkSession, batch: DataFrame,
      dir: String, crashPoint: String => Unit,
      opId: Option[Long] = None): Boolean =
   MaintenanceLock.withLock(spark, dir) {
    // one pinned snapshot: the marker check and the store read resolve
    // the same committed version (the lease already excludes writers)
    val snap = IndexManifest.load(spark, dir)
    if (opId.exists(id => snap.flatMap(_.opId).exists(_ >= id))) {
      // replayed op: the original run may have crashed between the
      // commit and its vacuum — finish the idempotent reclamation
      IndexManifest.vacuum(spark, dir, retainGenerations = 1)
      false
    } else {
    val store = IndexManifest.readRequired(spark, dir,
      snap.getOrElse(throw new IllegalStateException(
        s"no committed manifest under $dir — build() first")), "rollup")
    val b = partials(batch)
      .withColumnRenamed("n", "bn").withColumnRenamed("s", "bs")
      .withColumnRenamed("mn", "bmn").withColumnRenamed("mx", "bmx")
    val merged = store.join(b, Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(BigDecimal(0)).cast(SumT))
          + coalesce(col("bs"), lit(BigDecimal(0)).cast(SumT)))
          .cast(SumT).as("s"),
        least(col("mn"), col("bmn")).as("mn"),
        greatest(col("mx"), col("bmx")).as("mx"))
    writeSwap(spark, merged, dir, crashPoint, opId)
    true
    }
   }

  /** Right-to-be-forgotten: retract every fact row of `forgetUsers`
    * from the store. Counts and sums subtract exactly (abelian); min/
    * max are repaired by re-reading SURVIVING facts for the AFFECTED
    * groups only (semi-join-pruned — untouched groups keep their
    * stored extrema and cost nothing). `facts` is the full fact table
    * the store was built+appended from; only the forget slice and the
    * affected groups' survivors are ever aggregated.
    *
    * Retraction is NOT naturally idempotent (the forget rows are still
    * in `facts`, so a replay would subtract them again) — pass `opId`
    * to make it exactly-once via the same atomic marker as [[append]]. */
  def delete(spark: SparkSession, facts: DataFrame, forgetUsers: DataFrame,
      dir: String, opId: Option[Long] = None): Boolean =
    deleteImpl(spark, facts, forgetUsers, dir, _ => (), opId)

  private[graft] def deleteImpl(spark: SparkSession, facts: DataFrame,
      forgetUsers: DataFrame, dir: String,
      crashPoint: String => Unit, opId: Option[Long] = None): Boolean =
   MaintenanceLock.withLock(spark, dir) {
    val snap = IndexManifest.load(spark, dir)
    if (opId.exists(id => snap.flatMap(_.opId).exists(_ >= id))) {
      // replayed GDPR delete: the original run may have crashed between
      // its commit and its FULL vacuum, leaving the superseded rollup
      // segment — still carrying the forgotten users' aggregates — on
      // disk. The marker skip must not skip the physical reclamation,
      // or a replayed forget request only guarantees LOGICAL absence
      // until some unrelated later mutation happens to vacuum. Cheap
      // and idempotent; full depth because physical removal is the
      // entire point of this path.
      IndexManifest.vacuum(spark, dir)
      false
    } else {
    val store = IndexManifest.readRequired(spark, dir,
      snap.getOrElse(throw new IllegalStateException(
        s"no committed manifest under $dir — build() first")), "rollup")
    val slice = facts.join(broadcast(forgetUsers), Seq("user_id"))
    // cached and owned HERE (writeSwap materializes synchronously, so
    // unlike the q245 twin no scope is needed): both the retraction
    // join and the repair semi-join read the forget-slice partials
    val deltas = slice.select(dayCol, col("event_type"), col("value"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("dn"),
        sum(col("value").cast(Dec)).cast(SumT).as("ds"))
      .cache()
    try {
      val survivors = facts.join(broadcast(forgetUsers), Seq("user_id"),
        "left_anti")
      val repaired = survivors
        .select(dayCol, col("event_type"), col("value"))
        .join(deltas.select("day", "event_type"), Seq("day", "event_type"),
          "left_semi")
        .groupBy("day", "event_type")
        .agg(min(col("value")).as("rmn"), max(col("value")).as("rmx"))
      val next = store.join(deltas, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          (col("n") - coalesce(col("dn"), lit(0L))).as("n"),
          (col("s") - coalesce(col("ds"), lit(BigDecimal(0)).cast(SumT)))
            .cast(SumT).as("s"),
          col("mn"), col("mx"), col("dn").isNotNull.as("affected"))
        .filter(col("n") > 0)
        .join(repaired, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), col("n"), col("s"),
          when(col("affected"), col("rmn")).otherwise(col("mn")).as("mn"),
          when(col("affected"), col("rmx")).otherwise(col("mx")).as("mx"))
      writeSwap(spark, next, dir, crashPoint, opId, fullVacuum = true)
    } finally { deltas.unpersist(); () }
    true
    }
   }

  /** Stage the next table state as one segment, publish with one
    * manifest commit carrying the op marker, vacuum the superseded
    * segment. The next frame reads the LIVE segment it replaces —
    * safe, because the write targets a fresh segment dir (never the
    * files being read) and the old segment survives until after the
    * commit. Crash points: "written" (staged, invisible), "committed"
    * ("swapped" kept as an alias for the spec), "vacuumed". */
  private def writeSwap(spark: SparkSession, next: DataFrame, dir: String,
      crashPoint: String => Unit, opId: Option[Long],
      fullVacuum: Boolean = false): Unit = {
    val seg = IndexManifest.newSegment(spark, dir, "rollup")(p =>
      next.repartition(col("day")).write.mode("overwrite").parquet(p))
    crashPoint("written")
    IndexManifest.commit(spark, dir, Map("rollup" -> Seq(seg)), opId)
    crashPoint("swapped")
    // append/build retain the previous generation (reader grace);
    // delete vacuums FULLY — the superseded segment still carries the
    // forgotten users' contributions, and physical removal is the point
    IndexManifest.vacuum(spark, dir, if (fullVacuum) 0 else 1)
    crashPoint("vacuumed")
    ()
  }

  /** Open-time repair: with the manifest a crash leaves only orphan
    * segments / superseded versions — the store itself is always fully
    * live. Delegates to [[IndexManifest.vacuum]]; safe to run
    * unconditionally; returns true when anything was cleaned.
    * `retainGenerations` > 0 keeps that many older generations for
    * still-running readers. */
  def recover(spark: SparkSession, dir: String,
      retainGenerations: Int = 0): Boolean =
    MaintenanceLock.withLock(spark, dir) {
      IndexManifest.vacuum(spark, dir, retainGenerations) > 0
    }

  /** q245 — the DECLARATIVE lifecycle twin: build on the even-event_id
    * half, merge-append the odd half (q189 ⊕), then retract the
    * forget-list user_id % 37 = 0 with targeted min/max repair
    * (q243 ⊖), all in one plan. The ORACLE is the from-scratch rollup
    * over survivors, so the COMPOSITION law (A ⊕ B) ⊖ D ≡
    * recompute((A ∪ B) ∖ D) is hash-proven — including that
    * least/greatest extrema from the merge survive the repair
    * correctly. RollupStoreSpec pins the PERSISTED lifecycle (disk
    * swaps, crash injection, recover) bit-equal to this twin.
    *
    * Scale shape: the halves are role-split pruned scans (the q189
    * precedent), the forget slice and repair read are q243's shapes;
    * every aggregate is map-combinable. */
  val lifecycleTwin: Q = Q(
    "q245_rollup_lifecycle",
    (s, d) => {
      val ev = Tables.events(s, d)
      val isDel = coalesce(col("user_id") % 37 === 0, lit(false))
      val a = partials(ev.filter(pmod(col("event_id"), lit(2)) === 0))
      val b = partials(ev.filter(pmod(col("event_id"), lit(2)) === 1))
        .withColumnRenamed("n", "bn").withColumnRenamed("s", "bs")
        .withColumnRenamed("mn", "bmn").withColumnRenamed("mx", "bmx")
      val merged = a.join(b, Seq("day", "event_type"), "full_outer")
        .select(col("day"), col("event_type"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L)))
            .as("n"),
          (coalesce(col("s"), lit(BigDecimal(0)).cast(SumT))
            + coalesce(col("bs"), lit(BigDecimal(0)).cast(SumT)))
            .cast(SumT).as("s"),
          least(col("mn"), col("bmn")).as("mn"),
          greatest(col("mx"), col("bmx")).as("mx"))
      val evd = ev.select(col("user_id"), dayCol, col("event_type"),
        col("value"))
      val deltas = graft.CacheScope.cached(
        evd.filter(isDel).groupBy("day", "event_type")
          .agg(count(lit(1)).as("dn"),
            sum(col("value").cast(Dec)).cast(SumT).as("ds")))
      val repaired = evd.filter(!isDel)
        .join(deltas.select("day", "event_type"),
          Seq("day", "event_type"), "left_semi")
        .groupBy("day", "event_type")
        .agg(min(col("value")).as("rmn"), max(col("value")).as("rmx"))
      merged.join(deltas, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          (col("n") - coalesce(col("dn"), lit(0L))).as("n_events"),
          (col("s") - coalesce(col("ds"), lit(BigDecimal(0)).cast(SumT)))
            .cast(SumT).as("sd"),
          col("mn"), col("mx"), col("dn").isNotNull.as("affected"))
        .filter(col("n_events") > 0)
        .join(repaired, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), col("n_events"),
          splitDbl(col("sd")).as("sum_value"),
          when(col("affected"), col("rmn")).otherwise(col("mn"))
            .as("min_value"),
          when(col("affected"), col("rmx")).otherwise(col("mx"))
            .as("max_value"))
        .orderBy("day", "event_type")
    },
    Some(s"""WITH sv AS (SELECT date_trunc('day', ts) AS day, event_type,
          value FROM events
        WHERE NOT coalesce(user_id % 37 = 0, false))
      SELECT day, event_type, cast(count(*) as bigint) AS n_events,
        ${sqlDsum("value")} AS sum_value,
        min(value) AS min_value, max(value) AS max_value
      FROM sv GROUP BY 1, 2 ORDER BY 1, 2"""),
    bench = true)

  val all: Seq[Q] = Seq(lifecycleTwin)
}
