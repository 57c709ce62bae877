package graft.operators

import graft.ann.IndexSegments
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** A table's chunk/term-hash bucket partitioning: the directory column
  * `column` is [[CountedState.bucketExpr]] of `key` mod the family's
  * `B` dial. A bucket-partitioned write of zero rows commits no parquet
  * footer, and every later explicit-schema read anchors on the base —
  * so a family with such a table refuses an empty build (and an empty
  * compaction fold), counted inside the write itself. `needs` names
  * what the build input must contain for the derivation to yield a row
  * (the refusal's remedy text).
  */
private[graft] final case class Bucket(column: String, key: String,
                                       needs: String)

/** One payload table of a counted-state family: rows are `keys` plus
  * LINEAR count columns `counts` (the first one decides liveness), and
  * the stored schema is `keys ++ counts` in that order.
  */
private[graft] final case class CountedTable(name: String, keys: Seq[String],
                                             counts: Seq[String],
                                             bucket: Option[Bucket] = None) {
  /** Every count column negated; a bucket column (a rewrite's
    * [[CountedState]] fold carries it) passes through first.
    */
  private[operators] def negated(df: DataFrame): DataFrame =
    df.select(bucket.map(_.column).filter(df.columns.contains).toSeq.map(col) ++
      keys.map(col) ++ counts.map(c => (-col(c)).as(c)): _*)
}

/** The LINEAR-COUNT state engine behind [[graft.text.Bm25State]]
  * (postings + doc lengths), [[graft.dedup.ExactSubstr]] (window-hash
  * counts), [[graft.dedup.BandedIndex]] (MinHash/SRP band rows) and
  * [[graft.multimodal.PerceptualIndex]] (perceptual-hash band rows):
  * one [[VersionedState]] lifecycle over tables whose rows are pure
  * functions of the input rows and whose counts add.
  *
  * A family declares its payload [[CountedTable]]s, its dial names, the
  * column its rows are keyed by (when rows name an id, which enables
  * [[delete]]), and a pure `derive` from input rows (plus the stored
  * dials) to one frame per table. Everything else is here:
  *
  *  - '''labels''': `base:<dials>` (a [[build]] — counts of the whole
  *    corpus given), `delta` / `delta:<id>` (a [[refresh]] — counts of
  *    ONLY the batch), `retract:<id>`* (every count column negated),
  *    `drop:<id>`* (a [[delete]] — the ids' LIVE rows negated),
  *    `base-compact:<dials>` (a [[compact]]). Dials ride the base label
  *    as `kind:k=v,…` and are recovered from disk on every later commit
  *    and read, so maintainers cannot desynchronize them.
  *  - '''the live read''' ([[live]]): per-key totals summed across every
  *    version since the latest base (positive primary totals only),
  *    through [[graft.ann.IndexSegments.liveCounts]]; an optional
  *    predicate lands below the sum as a partition filter.
  *  - '''replay''': a `deltaId` makes a commit replay-idempotent via
  *    [[graft.ann.IndexSegments.replayGuarded]]; the guard survives
  *    compaction in the delivered sidecar and only a build resets it.
  *  - '''compaction''': fold the horizon into the NONZERO totals
  *    (negatives from a contract-violating retract included, so
  *    observable state never changes across a compact), carry the
  *    sidecar, GC below the retention floor.
  *  - '''the drift gate''' ([[maintain]]): counts are linear, so ANY
  *    difference from a one-shot re-derivation is corruption, never
  *    approximation.
  *
  * Torn commits, GC and second-writer surfacing are
  * [[VersionedState]]'s guarantees.
  */
private[graft] final class CountedState(
    val tables: Seq[CountedTable],
    dialNames: Seq[String], optionalDials: Seq[String] = Nil,
    dialNoun: String, dirNoun: String, id: Option[String],
    val derive: (DataFrame, String, String, CountedState.Dials) => Seq[DataFrame]) {
  import CountedState.Dials

  private def label(kind: String, d: Dials): String =
    s"$kind:" + d.map { case (k, v) => s"$k=$v" }.mkString(",")

  private def parse(label: String): Option[Dials] = {
    val kvs = label.split(":", 2).toSeq.drop(1)
      .flatMap(_.split(",", -1)).map(_.split("=", -1).toSeq)
    val known = dialNames ++ optionalDials
    val wellFormed = kvs.forall {
      case Seq(k, v) => known.contains(k) && v.nonEmpty && v.forall(_.isDigit)
      case _         => false
    }
    val d = ListMap(kvs.collect { case Seq(k, v) => k -> v.toInt }: _*)
    if (wellFormed && dialNames.forall(d.contains)) Some(d) else None
  }

  private def lastBaseOf(cs: Seq[(Long, String)],
                         stateDir: String): (Long, Dials) =
    cs.filter(_._2.startsWith("base")).lastOption match {
      case Some((n, l)) => parse(l).map(n -> _).getOrElse(
        throw new IllegalStateException(
          s"base marker at $stateDir carries no $dialNoun (label '$l') " +
            s"— not $dirNoun"))
      case None => throw new IllegalStateException(
        s"$stateDir has committed versions but no base — corrupt state")
    }

  private def committed(spark: SparkSession, stateDir: String,
                        asOf: Option[Long]): Seq[(Long, String)] = {
    val cs = VersionedState.committed(spark, stateDir)
    asOf.fold(cs)(v => cs.filter(_._1 <= v))
  }

  /** The dials the stored state was built with. `asOf` pins the read
    * to a committed version (a manifest cut).
    */
  def storedDials(spark: SparkSession, stateDir: String,
                  asOf: Option[Long] = None): Dials = {
    val cs = committed(spark, stateDir, asOf)
    require(cs.nonEmpty, s"no committed state at $stateDir")
    lastBaseOf(cs, stateDir)._2
  }

  /** Write one version's tables. `splits ≤ 1` keeps ONE file per bucket
    * per commit (right for deltas); `splits > 1` co-hashes the row id
    * into the exchange so a corpus-sized write (build/compact) spreads
    * each bucket over ~that many tasks/files — purely physical (the
    * bucket stays the partition directory; live sums are
    * file-count-blind). A frame that already carries the bucket column
    * is a [[rewriteSums]] fold, already hash-partitioned by it, and is
    * written without a second exchange. `refuse` (build, compact)
    * counts each bucket-partitioned table's rows inside its write and
    * fails with its text on zero — inside [[VersionedState.commit]]'s
    * writer, so no marker is made. Independent tables overlap from the
    * driver pool ([[Par]]).
    */
  private def write(frames: Seq[DataFrame], d: Dials, vdir: String,
                    splits: Int = 1,
                    refuse: Option[(CountedTable, Bucket) => String] = None): Unit =
    Par.run(tables.zip(frames).map { case (t, df) => () =>
      val path = s"$vdir/${t.name}"
      t.bucket match {
        case None => df.write.mode("overwrite").parquet(path)
        case Some(b) =>
          val nB = d("B")
          def parted(df: DataFrame): DataFrame =
            if (df.columns.contains(b.column)) df
            else {
              val withB = df.withColumn(b.column, CountedState.bucketExpr(col(b.key), nB))
              // salted, not keyed on the raw id: distinct partitioner
              // keys stay at nB·splits, so each bucket spreads over
              // ~splits tasks/files — keying on (bucket, id) would
              // spread every bucket over ALL tasks (≈ nB·splits files
              // per bucket, the small-file failure mode)
              if (splits <= 1) withB.repartition(nB, col(b.column))
              else withB.repartition(nB * splits, col(b.column),
                pmod(hash(col(id.get)), lit(splits)))
            }
          def save(df: DataFrame): Unit =
            parted(df).write.mode("overwrite").partitionBy(b.column).parquet(path)
          refuse match {
            case None => save(df)
            case Some(msg) =>
              val (_, rows) = Observed.metric(df, count(lit(1)), 0L)(save)
              require(rows != 0L, msg(t, b))
          }
      }
    })

  /** `t`'s live sums for a rewrite of the whole table (a compaction
    * fold, an erasure). For a bucket-partitioned table written
    * one-file-per-bucket (`splits ≤ 1`) the sums group by (bucket,
    * keys) over input hash-partitioned by the bucket, so the fold's
    * exchange is also the write's. `liveOnly` as in [[live]].
    */
  private def rewriteSums(spark: SparkSession, stateDir: String,
                          t: CountedTable, d: Dials, splits: Int,
                          liveOnly: Boolean): DataFrame =
    t.bucket.filter(_ => splits <= 1) match {
      case Some(b) =>
        IndexSegments.liveCounts(spark, stateDir, committed(spark, stateDir, None),
          t.name, b.column +: t.keys, t.counts,
          pre = _.repartition(d("B"), col(b.column)), liveOnly = liveOnly)
      case None => live(spark, stateDir, t, liveOnly = liveOnly).get
    }

  /** Per-key totals of `t` across the read horizon, or None before the
    * first commit. `where` (e.g. a bucket prune) lands BELOW the sum as
    * a partition filter. `liveOnly = false` keeps every NONZERO total —
    * the compaction fold only. The base label is validated first, so a
    * foreign state directory fails with the family's dial remedy.
    */
  def live(spark: SparkSession, stateDir: String, t: CountedTable,
           asOf: Option[Long] = None, where: Option[Column] = None,
           liveOnly: Boolean = true): Option[DataFrame] = {
    val cs = committed(spark, stateDir, asOf)
    if (cs.isEmpty) return None
    lastBaseOf(cs, stateDir)
    Some(IndexSegments.liveCounts(spark, stateDir, cs, t.name, t.keys,
      t.counts, pre = df => where.fold(df)(df.where), liveOnly = liveOnly))
  }

  /** Full (re)build: the tables of the entire corpus given, committed as
    * `base:<dials>`; prior versions (and the replay guard) GC'd. A
    * layout with a bucket-partitioned table refuses a build whose
    * DERIVED rows are empty (a raw non-empty check passes a corpus the
    * derivation drops whole) — counted by the write, which the refusal
    * then removes: the prior state is untouched.
    */
  def build(in: DataFrame, idCol: String, payloadCol: String,
            stateDir: String, dials: Seq[(String, Int)],
            writeSplits: Int = 1): Long = {
    val d = ListMap(dials: _*)
    val frames = derive(in, idCol, payloadCol, d)
    val spark = in.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    VersionedState.commit(spark, stateDir, prev, label = label("base", d),
      gcBelow = prev.getOrElse(0L) + 1L)(write(frames, d, _, writeSplits,
        refuse = Some((_, b) => s"build() needs at least one ${b.needs} — " +
          "an all-dropped base commits no parquet footers to anchor later " +
          "reads; build on the first real batch instead")))
  }

  private def requireBuilt(spark: SparkSession, stateDir: String,
                           op: String): Option[Long] = {
    val prev = VersionedState.currentVersion(spark, stateDir)
    require(prev.nonEmpty,
      s"no committed state at $stateDir — run build() before $op()")
    prev
  }

  private def deltaCommit(in: DataFrame, idCol: String, payloadCol: String,
                          stateDir: String, kind: String, deltaId: String,
                          negate: Boolean, check: => Unit): Long = {
    val spark = in.sparkSession
    val prev = requireBuilt(spark, stateDir, kind)
    IndexSegments.replayGuarded(spark, stateDir, kind, deltaId) { l =>
      check
      val d = storedDials(spark, stateDir) // the dials come from disk
      val frames = tables.zip(derive(in, idCol, payloadCol, d)).map {
        case (t, f) => if (negate) t.negated(f) else f
      }
      VersionedState.commit(spark, stateDir, prev, label = l)(write(frames, d, _))
    }
  }

  /** Incremental refresh: the tables of ONLY the batch, at the dials
    * recovered from the stored base. `check` runs after the replay
    * guard (a crash-replayed batch is a no-op before any check).
    */
  def refresh(in: DataFrame, idCol: String, payloadCol: String,
              stateDir: String, deltaId: String,
              check: => Unit = ()): Long =
    deltaCommit(in, idCol, payloadCol, stateDir, "delta", deltaId,
      negate = false, check)

  /** Remove rows by their input: every count column NEGATED. */
  def retract(in: DataFrame, idCol: String, payloadCol: String,
              stateDir: String, deltaId: String): Long =
    deltaCommit(in, idCol, payloadCol, stateDir, "retract", deltaId,
      negate = true, ())

  /** Erasure BY ID ALONE: negate the ids' LIVE rows in every table (the
    * rows name the id, so the negation re-derives from the state itself
    * — idempotent at the algebra level). One scan per table, semi-joined
    * to the broadcast erasure batch behind the fold's one exchange.
    */
  def delete(ids: DataFrame, idCol: String, stateDir: String,
             deltaId: String): Long = {
    val spark = ids.sparkSession
    val prev = requireBuilt(spark, stateDir, "delete")
    IndexSegments.replayGuarded(spark, stateDir, "drop", deltaId) { l =>
      val d = storedDials(spark, stateDir)
      val victims = broadcast(ids.select(col(idCol).as(id.get)))
      val frames = tables.map(t => t.negated(
        rewriteSums(spark, stateDir, t, d, splits = 1, liveOnly = true)
          .join(victims, Seq(id.get), "left_semi")))
      VersionedState.commit(spark, stateDir, prev, label = l)(write(frames, d, _))
    }
  }

  /** Fold every count table since the last base into ONE
    * `base-compact:<dials>` version (zero totals dropped, NONZERO totals
    * preserved), carry the replay guard's delivered-id sidecar, and GC
    * below the retention floor. A fully-erased bucket-partitioned table
    * must not fold (it would leave no schema anchor): the write counts
    * its rows and refuses, leaving the horizon as it was — build() on
    * the next corpus.
    */
  def compact(spark: SparkSession, stateDir: String, retainHorizons: Int,
              maxDelivered: Int, writeSplits: Int): Long = {
    val cs = VersionedState.committed(spark, stateDir)
    require(cs.nonEmpty, s"no committed state at $stateDir — nothing to compact")
    val (base, d) = lastBaseOf(cs, stateDir)
    val cur = cs.last._1
    if (cur == base) return cur
    val folded = tables.map(t =>
      rewriteSums(spark, stateDir, t, d, writeSplits, liveOnly = false))
    val delivered = IndexSegments.retainDelivered(
      IndexSegments.deliveredLabelsOrdered(spark, stateDir, cs),
      maxDelivered, stateDir)
    VersionedState.commit(spark, stateDir, Some(cur),
      label = label("base-compact", d),
      gcBelow = IndexSegments.compactGcFloor(cs, cur + 1, retainHorizons)) { vdir =>
      write(folded, d, vdir, writeSplits, refuse = Some((t, _) =>
        s"refusing to compact $stateDir: the live ${t.name} table is EMPTY " +
          "(every row erased) — an empty base-compact would leave no " +
          "schema anchor; keep the horizon and build() on the next corpus instead"))
      VersionedState.writeLines(spark, vdir, IndexSegments.DeliveredFile,
        delivered)
    }
  }

  /** The runbook as code — one call per ingest batch: refresh with the
    * delta (replay-guarded by `deltaId`), compact when the read
    * horizon's marker count exceeds `maxLiveMarkers`, and — when
    * `auditCorpus` (the full live input) is supplied — gate every
    * maintained table against a one-shot re-derivation (full outer join
    * on the keys; any missing row or differing count is drift), every
    * table's mismatches tagged into one union under one global count:
    * one action however many tables.
    */
  def maintain(delta: DataFrame, idCol: String, payloadCol: String,
               stateDir: String, deltaId: String, maxLiveMarkers: Int,
               auditCorpus: Option[DataFrame]): MaintainReport = {
    val spark = delta.sparkSession
    Maintain.run(spark, stateDir, maxLiveMarkers,
      refresh(delta, idCol, payloadCol, stateDir, deltaId),
      compact(spark, stateDir, retainHorizons = 1,
        maxDelivered = IndexSegments.DefaultMaxDelivered, writeSplits = 1),
      (auditCorpus.toSeq.map { corpus =>
        val oneShot = derive(corpus, idCol, payloadCol, storedDials(spark, stateDir))
        val tagged = tables.zip(oneShot).zipWithIndex.map { case ((t, f), i) =>
          live(spark, stateDir, t).get
            .join(f.select(t.keys.map(col) ++
                t.counts.map(c => col(c).as(s"${c}_one")): _*),
              t.keys, "full_outer")
            .where(t.counts.map(c => col(c) =!= col(s"${c}_one"))
              .foldLeft(col(t.counts.head).isNull ||
                col(s"${t.counts.head}_one").isNull)(_ || _))
            .select(lit(i).as("_t"))
        }.reduce(_.unionByName(_))
        val perTable = tables.indices.map(i => count(when(col("_t") === i, 1)))
        val row = tagged.agg(perTable.head, perTable.tail: _*).head()
        val diffs = tables.indices.map(row.getLong)
        val names = tables.map(_.name).mkString(" + ")
        if (diffs.forall(_ == 0))
          GateVerdict.Ok("drift", s"maintained $names ≡ one-shot re-derivation")
        else
          GateVerdict.Corruption("drift",
            tables.zip(diffs).map { case (t, n) => s"$n ${t.name} rows" }
              .mkString(" / ") + " differ from the one-shot re-derivation — " +
              "counts are linear, so this is lost/replayed state, not " +
              "approximation; rebuild and check replay discipline")
      }, Map.empty))
  }
}

private[graft] object CountedState {

  /** A family's dials in label order (`kind:k=v,…`). */
  type Dials = ListMap[String, Int]

  /** The bucket COLUMN of a key: the first 8 md5 hex digits of its
    * string form, mod B — the repo's portable-hash discipline. Uniform
    * even when keys cluster; [[graft.text.Bm25State.bucketOf]] is the
    * driver-side twin.
    */
  def bucketExpr(key: Column, nB: Int): Column =
    (conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % nB).cast("int")
}
