package graft.ann

import graft.operators.{GateVerdict, VersionedState}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The shared SEGMENT ALGEBRA of the durable index family
  * ([[IvfIndex]], [[PqIndex]], [[IvfPqIndex]]) — everything the three
  * indexes have in common once "a version" is (dial tables + one
  * `segment/` table) under a [[graft.operators.VersionedState]] commit:
  *
  *  - '''labels''': `base` (a build — full retrain + full segment),
  *    `base-compact` (a [[compact]] — dials carried, segments folded),
  *    `delta` / `delta:<id>` (a refresh — dials carried, delta
  *    segment), `tombstone` (a delete — dials carried, `tombstones/`
  *    id table instead of a segment). Any `base*` label starts a new
  *    read horizon; everything before it is dead.
  *  - '''the live relation''' ([[live]]): the union of every segment
  *    from the latest base onward, minus rows whose id is tombstoned
  *    by a LATER version — so a delete kills every earlier segment's
  *    rows for that id, and a re-add refreshed AFTER the delete
  *    survives (the delete-then-refresh ordering q272 gates and the
  *    index specs pin).
  *  - '''replay idempotence''' ([[replayGuarded]]): a refresh that
  *    carries a caller-supplied delta id commits under `delta:<id>`;
  *    re-delivering the same id is a NO-OP returning the already-
  *    committed version — the protocol closes the duplicate-on-replay
  *    footgun instead of documenting it. Id-less refreshes keep the
  *    additive append semantics (exactly-once delivery stays the
  *    caller's contract there). The guard SURVIVES compaction — the
  *    folded ids ride the [[DeliveredFile]] sidecar into every later
  *    base-compact — and is reset only by a full build: a build GCs
  *    all prior versions and writes no sidecar, so ids delivered
  *    before a rebuild are re-deliverable after it — by then their
  *    rows live in the rebuilt base segment, so re-delivery is the
  *    caller re-syncing, not the crash-replay this guard exists for.
  *  - '''compaction''' ([[compact]]): fold every live segment since
  *    the last base into ONE `base-compact` version (dials copied —
  *    no retrain; assignments/codes are immutable given frozen dials),
  *    physically excising tombstoned rows, then GC below the retention
  *    floor (the folded horizon stays for in-flight readers; the next
  *    compact or [[gcOldHorizons]] reclaims it).
  *    This bounds two things that otherwise grow one unit per refresh
  *    forever: the segment fan-out [[live]] unions, and the marker
  *    count [[graft.operators.VersionedState.committed]] reads
  *    serially on the driver. A daily-refresh index compacts on
  *    whatever cadence keeps both O(1)-ish; q271 gates
  *    `compacted ≡ pre-compaction union` hash-exact.
  *
  * Scale shape: [[live]] adds one long column and (only when
  * tombstones exist) one join against the tombstone-id table — the
  * tombstone side is bounded by deletions since the last compaction,
  * and compaction resets it to zero. [[compact]]'s cost is one read +
  * write of the live relation — the same IO a build's segment write
  * already pays, WITHOUT the retrain or the re-route.
  */
private[graft] object IndexSegments {

  /** Carry an IMMUTABLE payload table from a committed version's
    * directory into the version directory being built: a recursive
    * filesystem copy, not a Spark read+rewrite. The carried artifact
    * is frozen by family contract (dials never change off a build), so
    * the copy IS the previous version's table — the same parquet
    * bytes — while a Spark round-trip costs a scheduler round-trip, a
    * full decode+re-encode, and a commit-protocol write per carried
    * table per commit (guide §1.2: don't recompute what a copy
    * preserves; the dial tables are KB-to-MB-sized at any corpus
    * scale, so driver-side copy beats a distributed job everywhere).
    * Readers are unchanged: they `spark.read.parquet` the carried dir
    * exactly as before.
    */
  def carryDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val sfs = sp.getFileSystem(conf)
    val dfs = dp.getFileSystem(conf)
    require(sfs.exists(sp), s"carry source $src does not exist")
    // Hadoop's copy nests src INTO a pre-existing dst directory
    // (dst/<srcname>) instead of replacing it — a silent mislayout.
    // Safe at today's call sites only because commit() deletes any
    // stale vdir first; guard the helper itself so a future caller
    // can't nest or half-copy undetected.
    require(!dfs.exists(dp),
      s"carry destination $dst already exists — delete it before carrying")
    require(org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
      false /* deleteSource */, true /* overwrite */, conf),
      s"carry copy $src -> $dst failed")
  }

  /** The delta-id contract every family label shares: bounded in BYTES
    * (not chars — a multibyte id must still fit the marker whole, or
    * the equality-based replay guard silently never matches) and free
    * of line breaks (ids are also persisted newline-delimited in the
    * compaction-carried delivered file).
    */
  def validDeltaId(deltaId: String): Unit = {
    require(
      deltaId.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= 200 &&
        !deltaId.exists(c => c == '\n' || c == '\r'),
      "delta id must be ≤200 UTF-8 bytes with no line breaks (it rides in " +
        "the commit marker and the delivered-id sidecar)")
  }

  /** The latest `base*` version — the read horizon's start. */
  def lastBase(cs: Seq[(Long, String)], stateDir: String): Long =
    cs.filter(_._2.startsWith("base")).map(_._1).maxOption.getOrElse(
      throw new IllegalStateException(
        s"$stateDir has committed versions but no base — corrupt index state"))

  /** The name of the sidecar file a `base-compact` version carries with
    * the full `kind:<id>` labels of every replay-guarded commit it (or
    * any compaction before it) folded — the replay guard's memory
    * across compactions. Without it, a delta id re-delivered AFTER its
    * marker was compacted away would silently append duplicate rows —
    * exactly the crash-replay window the guard exists for (maintainer
    * commits, crashes before acking the source, restarts, compacts,
    * source re-delivers). Only a full [[build]] resets the guard — by
    * then the rows live in the rebuilt base, so a re-delivery is the
    * caller re-syncing, not a crash replay.
    */
  val DeliveredFile = "delivered"

  /** Family-wide default for `maxDelivered`, the sidecar's id cap at
    * compaction — 64k ids (≲ 13 MB at the 200-byte id bound; typical
    * ids are far smaller). Sizing rule (ARCHITECTURE runbook): the cap
    * must EXCEED the source's maximum replay window — an id aged out
    * past the cap becomes re-deliverable, the same contract as any
    * at-least-once acknowledgment horizon. 64k guarded commits of
    * outstanding replay is generous for any real checkpointed source
    * (a daily-refresh index takes 179 years to mint that many); a
    * deployment with a genuinely wider replay window passes its own
    * cap. The previous default (`Int.MaxValue`) never aged anything
    * out, so the default deployment's sidecar grew one id per guarded
    * commit FOREVER and every guard probe re-read it whole.
    */
  val DefaultMaxDelivered = 65536

  /** The delivered-id labels a compaction carries forward: the NEWEST
    * `maxDelivered` of `labels` (which arrive age-ordered, oldest
    * first). When the cap actually ages ids out, say so on stderr: an
    * aged-out id becomes RE-DELIVERABLE, so the operator must learn
    * the replay window shrank from the log — not from duplicated
    * state after the source replays an ancient batch.
    */
  def retainDelivered(labels: Seq[String], maxDelivered: Int,
                      stateDir: String, op: String = "compact"): Seq[String] = {
    val kept = labels.takeRight(math.max(maxDelivered, 0))
    val aged = labels.length - kept.length
    if (aged > 0)
      System.err.println(s"[graft] $op at $stateDir aged $aged " +
        s"delivered id(s) out of the replay-guard sidecar (cap " +
        s"$maxDelivered, oldest dropped '${labels.head}') — aged ids " +
        "are re-deliverable; raise maxDelivered if the source's replay " +
        "window can exceed the cap")
    kept
  }

  /** Every replay-guarded label known delivered, OLDEST FIRST: the
    * latest base's sidecar (already age-ordered — compaction preserves
    * the order) followed by the live markers' labels in version order,
    * deduplicated keeping the first (oldest) occurrence. The order is
    * what lets [[compact]]'s `maxDelivered` cap age out the oldest ids.
    */
  def deliveredLabelsOrdered(spark: SparkSession, stateDir: String,
                             cs: Seq[(Long, String)]): Seq[String] = {
    val fromBase = cs.filter(_._2.startsWith("base")).map(_._1).maxOption
      .map(b => VersionedState.readLines(spark,
        VersionedState.versionPath(stateDir, b), DeliveredFile))
      .getOrElse(Nil)
    val fromMarkers = cs.sortBy(_._1).collect {
      case (_, l) if !l.startsWith("base") && l.contains(":") => l
    }
    (fromBase ++ fromMarkers).distinct
  }

  /** Every replay-guarded label known delivered → the committed version
    * that answers for it: a live marker's own version, or the latest
    * base for sidecar-carried ids (the rows live in its folded payload).
    */
  def deliveredLabels(spark: SparkSession, stateDir: String,
                      cs: Seq[(Long, String)]): Map[String, Long] = {
    val fromMarkers = cs.collect {
      case (n, l) if !l.startsWith("base") && l.contains(":") => l -> n
    }.toMap
    val fromBase = cs.filter(_._2.startsWith("base")).map(_._1).maxOption
      .map { b =>
        VersionedState.readLines(spark,
            VersionedState.versionPath(stateDir, b), DeliveredFile)
          .map(_ -> b).toMap
      }.getOrElse(Map.empty[String, Long])
    fromBase ++ fromMarkers
  }

  /** The committed version carrying `label` (a full `kind:<id>` string),
    * if it was already delivered — via a live marker, or via the latest
    * base's compaction-carried delivered set (then the base's version
    * is returned: the rows live in its folded payload).
    */
  def alreadyDeliveredLabel(spark: SparkSession, stateDir: String,
                            label: String): Option[Long] =
    deliveredLabels(spark, stateDir,
      VersionedState.committed(spark, stateDir)).get(label)

  /** The marker label of a `kind` commit, validating `deltaId` FIRST
    * (guard keys are always validated ids): `kind` (id-less: additive,
    * never replay-guarded) or `kind:<id>`.
    */
  def replayLabel(kind: String, deltaId: String): String = {
    validDeltaId(deltaId)
    if (deltaId.isEmpty) kind else s"$kind:$deltaId"
  }

  /** The replay-guard prelude every guarded commit shares: the
    * [[replayLabel]], and the committed version answering for it if it
    * was already delivered — otherwise `commit` runs with the label.
    * Survives compaction via the delivered sidecar; reset only by a
    * full build.
    */
  def replayGuarded(spark: SparkSession, stateDir: String, kind: String,
                    deltaId: String)(commit: String => Long): Long = {
    val label = replayLabel(kind, deltaId)
    (if (deltaId.isEmpty) None
     else alreadyDeliveredLabel(spark, stateDir, label))
      .getOrElse(commit(label))
  }

  /** The segment-refresh prelude every index family shares: a committed
    * base must exist, the commit is replay-guarded by `deltaId` (label
    * `delta` / `delta:<id>`), the frozen `dialDirs` are carried
    * byte-identically into the new version, and `segment` derives the
    * delta's segment from those dial tables read BACK from the new
    * version (in `dialDirs` order) — the committed artifact, not an
    * in-memory plan, is what every refresh derives from.
    */
  def refresh(spark: SparkSession, stateDir: String, deltaId: String,
              dialDirs: Seq[String])(segment: Seq[DataFrame] => DataFrame): Long = {
    val prev = VersionedState.currentVersion(spark, stateDir)
    require(prev.nonEmpty,
      s"no committed index at $stateDir — run build() before refresh()")
    replayGuarded(spark, stateDir, "delta", deltaId) { label =>
      val pdir = VersionedState.versionPath(stateDir, prev.get)
      VersionedState.commit(spark, stateDir, prev, label = label) { vdir =>
        // dials are frozen off a build: byte-identical FS carry (no
        // Spark round-trip)
        dialDirs.foreach(d => carryDir(spark, s"$pdir/$d", s"$vdir/$d"))
        segment(dialDirs.map(d => spark.read.parquet(s"$vdir/$d")))
          .write.mode("overwrite").parquet(s"$vdir/segment")
      }
    }
  }

  /** A dial table (`centroids/`, `codebooks/`, `coarse/`) of the latest
    * version — or of the latest version ≤ `asOf` (a manifest cut) — or
    * None before the first build.
    */
  def dial(spark: SparkSession, stateDir: String, name: String,
           asOf: Option[Long] = None): Option[DataFrame] = {
    val v = asOf match {
      case Some(a) => VersionedState.committed(spark, stateDir)
        .filter(_._1 <= a).lastOption.map(_._1)
      case None => VersionedState.currentVersion(spark, stateDir)
    }
    v.map(n => spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/$name"))
  }

  /** The columns of an index audit row, in order (see [[auditRow]]). */
  private val AuditColumns = Seq("drift", "n_live", "n_one_shot", "s_maintained",
    "s_rebuilt", "hits_maintained", "hits_rebuilt", "n_brute")

  /** One index audit's raw numbers as ONE lazily composed row — what
    * the family's `maintain()` gates on and its oracle-gated catalog
    * query (q266 / q267 / q270) projects, so the arithmetic is written
    * once:
    *
    *  - `drift`: rows of the full-outer join of `live` and `oneShot` on
    *    `keys` that are missing on a side or differ in a `payload`
    *    column (exact — the maintenance algebra is pointwise);
    *  - `n_live` / `n_one_shot`: both sides' row counts. A duplicated
    *    segment matches pointwise, so the count difference is what
    *    catches an id-less replay;
    *  - `s_maintained` / `s_rebuilt`: Σ `micro` (a per-row micro-scaled
    *    long — exact, order-free) over `live` and over the retrained
    *    index's table `rebuilt`;
    *  - `hits_maintained` / `hits_rebuilt` / `n_brute`: the row counts
    *    of each index's search ⋈ the brute-force truth, and of the
    *    truth.
    *
    * Every part contributes per-row terms to one union and ONE global
    * sum, so the row costs one final exchange however many numbers it
    * carries (a cross join of seven aggregates costs seven exchanges
    * and six broadcasts).
    */
  def auditRow(live: DataFrame, oneShot: DataFrame, keys: Seq[String],
               payload: Seq[String], micro: Column, rebuilt: DataFrame,
               hitsMaintained: DataFrame, hitsRebuilt: DataFrame,
               brute: DataFrame): DataFrame = {
    def part(df: DataFrame, terms: (String, Column)*): DataFrame = {
      val t = terms.toMap
      df.select(AuditColumns.map(c => t.getOrElse(c, lit(0L)).cast("long").as(c)): _*)
    }
    def side(df: DataFrame, s: String) =
      df.select(keys.map(col) ++ payload.map(p => col(p).as(s"$p$s")): _*)
    val mismatch = payload.map(p => col(s"${p}_l") =!= col(s"${p}_o"))
      .foldLeft(col(s"${payload.head}_l").isNull ||
        col(s"${payload.head}_o").isNull)(_ || _)
    val one = lit(1L)
    val sums = AuditColumns.map(c => coalesce(sum(c), lit(0L)).as(c))
    Seq(part(side(live, "_l").join(side(oneShot, "_o"), keys, "full_outer")
          .where(mismatch), "drift" -> one),
        part(live, "n_live" -> one, "s_maintained" -> micro),
        part(oneShot, "n_one_shot" -> one),
        part(rebuilt, "s_rebuilt" -> micro),
        part(hitsMaintained, "hits_maintained" -> one),
        part(hitsRebuilt, "hits_rebuilt" -> one),
        part(brute, "n_brute" -> one))
      .reduce(_.unionByName(_))
      .agg(sums.head, sums.tail: _*)
  }

  /** Run an [[auditRow]] in ONE action and map it to the family's three
    * typed verdicts: drift (Corruption — `drift == 0` and equal row
    * counts, or segments were lost, duplicated or mixed across bases),
    * the family's `fit` rule (BuildNeeded), and recall (BuildNeeded when
    * the maintained hits trail the retrained ones by more than
    * `recallSlack` of the truth). `what` names the one-shot derivation
    * in the drift details; the row's numbers come back as `measured`.
    */
  def auditGates(row: DataFrame, what: String, recallSlack: Double,
                 recallHint: String = "")(fit: Map[String, Long] => GateVerdict)
      : (Seq[GateVerdict], Map[String, Double]) = {
    val r = row.head()
    val n = AuditColumns.map(c => c -> r.getAs[Long](c)).toMap
    val (mism, nLive, nOne) = (n("drift"), n("n_live"), n("n_one_shot"))
    val drift =
      if (mism == 0 && nLive == nOne)
        GateVerdict.Ok("drift", s"maintained ≡ one-shot $what over $nOne rows")
      else GateVerdict.Corruption("drift",
        s"$mism $what mismatches, $nLive live rows vs $nOne one-shot — " +
          "segments lost, duplicated or mixed across bases; rebuild and " +
          "check for id-less replays or a foreign writer")
    val (hm, hr, nb) = (n("hits_maintained"), n("hits_rebuilt"), n("n_brute"))
    val recall =
      if (nb == 0 || hm >= hr - recallSlack * nb)
        GateVerdict.Ok("recall", s"maintained $hm vs retrained $hr of $nb brute pairs")
      else GateVerdict.BuildNeeded("recall",
        s"maintained $hm vs retrained $hr of $nb brute pairs — recall " +
          s"trails the retrain past the slack; schedule a build$recallHint")
    (Seq(drift, fit(n), recall), n.map { case (k, v) => k -> v.toDouble })
  }

  /** The PQ families' fit rule over an [[auditRow]]: the maintained
    * total quantization error may exceed a fresh codebook retrain's by
    * at most `fitRatioMilli`/1000, compared in exact micro-scaled
    * integers; `books` names the frozen dial in the verdict.
    */
  def errorFit(n: Map[String, Long], fitRatioMilli: Long,
               books: String): GateVerdict = {
    val (eInc, eReb) = (n("s_maintained"), n("s_rebuilt"))
    if (eInc * 1000 <= eReb * fitRatioMilli)
      GateVerdict.Ok("fit", s"maintained µerr $eInc vs retrain $eReb " +
        s"(ratio dial $fitRatioMilli/1000)")
    else GateVerdict.BuildNeeded("fit",
      s"maintained µerr $eInc exceeds $fitRatioMilli/1000 of the " +
        s"retrain's $eReb — the frozen $books no longer fit; schedule a build")
  }

  /** The live index relation (see object doc), or None before the
    * first commit. Segment rows must carry an `id` column — the key
    * tombstones address. `asOf` pins the read to the state as of that
    * committed version (a [[graft.operators.StateManifest]] cut); the
    * pinned horizon must still be on disk — compaction's retention
    * keeps one folded horizon, [[gcOldHorizons]] reclaims it.
    */
  def live(spark: SparkSession, stateDir: String,
           asOf: Option[Long] = None): Option[DataFrame] = {
    val cs0 = VersionedState.committed(spark, stateDir)
    val cs = asOf.fold(cs0)(v => cs0.filter(_._1 <= v))
    if (cs.isEmpty) return None
    val base = lastBase(cs, stateDir)
    val since = cs.filter(_._1 >= base)
    val segs = since.collect { case (n, l) if !l.startsWith("tombstone") =>
      spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/segment")
        .withColumn("_seg_v", lit(n))
    }
    val all = segs.reduce(_.unionByName(_))
    val tombs = since.collect { case (n, l) if l.startsWith("tombstone") =>
      spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/tombstones")
        .select(col("id").as("_tomb_id"), lit(n).as("_tomb_v"))
    }
    val out =
      if (tombs.isEmpty) all
      else {
        // one id may be deleted more than once; the LATEST tombstone
        // decides which segments it kills
        val t = tombs.reduce(_.unionByName(_))
          .groupBy("_tomb_id").agg(max("_tomb_v").as("_tomb_v"))
        all.join(t, col("id") === col("_tomb_id"), "left")
          .where(col("_tomb_v").isNull || col("_seg_v") > col("_tomb_v"))
          .drop("_tomb_id", "_tomb_v")
      }
    Some(out.drop("_seg_v"))
  }

  /** Commit a tombstone version: the latest version's dial tables
    * (`dialDirs`) carried forward unchanged + a `tombstones/` table of
    * the (distinct) ids to delete. `ids`' FIRST column is the id.
    * `deltaId` (optional) makes the delete REPLAY-IDEMPOTENT
    * (`tombstone:<id>`, guarded like a refresh and carried across
    * compaction) — without it, an at-least-once erasure source that
    * re-delivers a delete AFTER a legitimate re-add would silently
    * re-kill the re-added rows (tombstones are latest-wins by design;
    * the guard keeps "latest" meaning latest INTENT, not latest
    * delivery).
    */
  def commitTombstone(ids: DataFrame, stateDir: String,
                      dialDirs: Seq[String], deltaId: String = ""): Long = {
    val spark = ids.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    require(prev.nonEmpty,
      s"no committed index at $stateDir — nothing to delete from")
    replayGuarded(spark, stateDir, "tombstone", deltaId) { label =>
      val pdir = VersionedState.versionPath(stateDir, prev.get)
      val tomb = ids.select(col(ids.columns.head).as("id")).distinct()
      VersionedState.commit(spark, stateDir, prev, label = label) { vdir =>
        // dials are frozen: byte-identical FS carry, no Spark round-trip
        dialDirs.foreach(d => carryDir(spark, s"$pdir/$d", s"$vdir/$d"))
        tomb.write.mode("overwrite").parquet(s"$vdir/tombstones")
      }
    }
  }

  /** Per-key count totals across a COUNT family's read horizon — the
    * reader behind [[graft.operators.CountedState]] (postings/doclen,
    * window-hash counts, band rows). `cs` is the read's non-empty
    * committed (version, label) list, already cut at its `asOf`.
    * Semantics:
    *
    *  - every segment since the latest base reads with the BASE
    *    segment's explicit schema (a partitionBy write of an all-empty
    *    negation creates no part files, so inference would fail exactly
    *    on the segment whose emptiness is the point), read from one of
    *    its footers ([[footerSchema]]), and a base lacking the expected
    *    columns fails with the rebuild remedy;
    *  - `pre` runs BELOW the live-sum agg (partition-prune pushdowns —
    *    term buckets, chunk buckets);
    *  - `liveOnly = true` (every read path) keeps positive PRIMARY
    *    totals only; `false` (the compact folds ONLY) keeps every
    *    NONZERO total, so negative totals from a contract-violating
    *    retract survive compaction and observable state never changes
    *    across a compact (zero totals drop safely: absent + x sums the
    *    same as 0 + x).
    */
  def liveCounts(spark: SparkSession, stateDir: String,
                 cs: Seq[(Long, String)], table: String, keys: Seq[String],
                 cnts: Seq[String],
                 pre: DataFrame => DataFrame = identity,
                 liveOnly: Boolean = true): DataFrame = {
    val base = lastBase(cs, stateDir)
    val vs = cs.map(_._1).filter(_ >= base)
    val baseDir = s"${VersionedState.versionPath(stateDir, vs.head)}/$table"
    val sch = footerSchema(spark, baseDir)
      .getOrElse(spark.read.parquet(baseDir).schema)
    val missing = (keys ++ cnts).filterNot(sch.fieldNames.contains)
    require(missing.isEmpty,
      s"$stateDir's $table base lacks column(s) ${missing.mkString(", ")}" +
        " — the stored state predates this layout; run build() over " +
        "the live corpus to adopt it")
    val all = vs.map(n => spark.read.schema(sch).parquet(
        s"${VersionedState.versionPath(stateDir, n)}/$table"))
      .reduce(_.unionByName(_))
    pre(all)
      .groupBy(keys.map(col): _*)
      .agg(sum(cnts.head).cast("long").as(cnts.head),
        cnts.tail.map(c => sum(c).cast("long").as(c)): _*)
      .where(if (liveOnly) col(cnts.head) > 0
             else cnts.map(col(_) =!= 0).reduce(_ || _))
  }

  /** The schema `spark.read.parquet(dir)` infers for a table this
    * module wrote, read from ONE data file's footer on the driver
    * (inference launches a one-task footer job, and every live read
    * anchors on its base's schema): the footer's Spark schema under the
    * session conf, every field nullable as a file source reads it, plus
    * the partition directory columns on the way to that file, typed as
    * partition inference types the integer bucket ids. None when `dir`
    * holds no data file, a directory value is not an integer, or
    * partition type inference is off — the caller falls back to
    * inference.
    */
  private[graft] def footerSchema(spark: SparkSession,
                                  dir: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus) =
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    def firstFile(p: Path): Option[FileStatus] = {
      val (dirs, files) = fs.listStatus(p).filter(visible)
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstFile(d.getPath)).nextOption())
    }
    if (!fs.exists(root)) return None
    firstFile(root).flatMap { file =>
      val parts = Iterator.iterate(file.getPath.getParent)(_.getParent)
        .takeWhile(_.depth > root.depth).map(_.getName.split("=", 2)).toSeq.reverse
      if (!spark.sessionState.conf.partitionColumnTypeInferenceEnabled ||
          !parts.forall(kv => kv.length == 2 && kv(1).toIntOption.nonEmpty)) None
      else {
        val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.NO_FILTER))
        val data = ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        Some(StructType(data.fields.map(_.copy(nullable = true)) ++ parts.map(kv =>
          StructField(kv(0), IntegerType))))
      }
    }
  }

  /** The GC floor a compaction commit should use: `next` (reclaim
    * everything) when `retainHorizons` is 0, else the base of the
    * oldest horizon to KEEP — retaining the previous horizon keeps an
    * in-flight reader's lazy plan (resolved before the compact) from
    * losing its files mid-scan, the same retention-2 discipline
    * `VectorStreams.publishIndex` uses for hot swaps. The retained
    * horizon is reclaimed by the NEXT compact, or eagerly by
    * [[gcOldHorizons]].
    */
  def compactGcFloor(cs: Seq[(Long, String)], next: Long,
                     retainHorizons: Int): Long =
    if (retainHorizons <= 0) next
    else cs.filter(_._2.startsWith("base")).map(_._1).sorted
      .takeRight(retainHorizons).headOption.getOrElse(next)

  /** Eagerly reclaim every version below the current read horizon's
    * base — the versions a compaction with `retainHorizons = 1` left
    * alive for in-flight readers. Call once those readers are done.
    */
  def gcOldHorizons(spark: SparkSession, stateDir: String): Unit = {
    val cs = VersionedState.committed(spark, stateDir)
    if (cs.isEmpty) return
    VersionedState.gc(spark, stateDir, keepFrom = lastBase(cs, stateDir))
  }

  /** Fold the read horizon into one `base-compact` version (see object
    * doc), carrying the replay guard's delivered-id memory in the
    * [[DeliveredFile]] sidecar, and GC below the retention floor
    * (`retainHorizons = 1` keeps the folded horizon alive for
    * in-flight readers; 0 reclaims it immediately). A lone base with
    * nothing to fold is already compact — returned as-is, no commit.
    *
    * `maxDelivered` bounds the sidecar: without it the delivered set
    * grows one id per guarded commit FOREVER (only a build resets it),
    * and every guard probe re-reads it whole. The cap keeps the NEWEST
    * ids (the sidecar is age-ordered); an id aged out past the cap
    * becomes re-deliverable, so size the cap to exceed the source's
    * maximum replay window — the same contract as any at-least-once
    * acknowledgment horizon.
    */
  def compact(spark: SparkSession, stateDir: String,
              dialDirs: Seq[String], retainHorizons: Int = 1,
              maxDelivered: Int = IndexSegments.DefaultMaxDelivered): Long = {
    val cs = VersionedState.committed(spark, stateDir)
    require(cs.nonEmpty, s"no committed index at $stateDir — nothing to compact")
    val base = lastBase(cs, stateDir)
    val cur = cs.last._1
    if (cur == base) return cur
    val pdir = VersionedState.versionPath(stateDir, cur)
    val folded = live(spark, stateDir).get
    val delivered = retainDelivered(
      deliveredLabelsOrdered(spark, stateDir, cs), maxDelivered, stateDir)
    val next = cur + 1
    // the folded plan lazily reads the old segments; the write inside
    // commit() materializes it BEFORE the post-marker GC deletes them
    VersionedState.commit(spark, stateDir, Some(cur), label = "base-compact",
      gcBelow = compactGcFloor(cs, next, retainHorizons)) { vdir =>
      // dials are frozen: byte-identical FS carry, no Spark round-trip
      dialDirs.foreach(d => carryDir(spark, s"$pdir/$d", s"$vdir/$d"))
      folded.write.mode("overwrite").parquet(s"$vdir/segment")
      VersionedState.writeLines(spark, vdir, DeliveredFile, delivered)
    }
  }
}

/** The lifecycle calls [[IvfIndex]], [[PqIndex]] and [[IvfPqIndex]]
  * share over their [[IndexSegments]] layout, given the dial tables
  * each version carries beside its segment.
  */
private[graft] trait SegmentedIndex {

  /** The dial tables every version carries forward unchanged. */
  protected def dials: Seq[String]

  /** Delete `ids` (first column) from the live index: commits a
    * TOMBSTONE version (the dial tables carried forward + the id
    * table). Earlier segments' rows for those ids vanish from the live
    * relation; a later refresh may re-add an id (the
    * delete-then-refresh ordering q272 gates). Physical excision
    * happens at the next [[compact]].
    */
  def delete(ids: DataFrame, stateDir: String, deltaId: String = ""): Long =
    IndexSegments.commitTombstone(ids, stateDir, dials, deltaId)

  /** Fold every segment since the last base into ONE `base-compact`
    * version — dial tables copied, NO retrain (encodings are immutable
    * under frozen dials), tombstoned rows physically excised; one
    * marker covers the dials and the folded segment, so a crash
    * mid-compaction can never pair folded codes with a half-copied
    * dial table — and GC below the retention floor (the default keeps
    * the folded horizon alive for in-flight readers; reclaim with
    * [[gc]] or the next compact). Delivered delta ids ride the
    * sidecar, so the replay guard survives compaction. Bounds the
    * segment fan-out and the driver-side marker reads; q271 gates
    * `compacted ≡ pre-compaction union` hash-exact.
    */
  def compact(spark: SparkSession, stateDir: String,
              retainHorizons: Int = 1,
              maxDelivered: Int = IndexSegments.DefaultMaxDelivered): Long =
    IndexSegments.compact(spark, stateDir, dials, retainHorizons, maxDelivered)

  /** Reclaim the pre-compaction horizon a retaining [[compact]] left
    * alive — call once in-flight readers of the old horizon are done.
    */
  def gc(spark: SparkSession, stateDir: String): Unit =
    IndexSegments.gcOldHorizons(spark, stateDir)
}
