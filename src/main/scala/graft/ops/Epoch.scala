package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-pointer (epoch) layouts — SNAPSHOT-ISOLATED serving under
  * live mutation, the successor to [[Layout.replaceDir]]'s
  * "maintenance window without concurrent serving" contract.
  *
  * The reference sidesteps serve-during-mutation entirely: every
  * update cycle loads into a fresh database and cuts over wholesale
  * (`updatecalaccessrawdata.py:~100-200` — full reload). That works at
  * its scale; a 100 TB serving deployment cannot reload the world per
  * delete batch, and the in-place swap discipline [[Layout.replaceDir]]
  * provides is atomic only per DIRECTORY — a reader overlapping a
  * multi-directory mutation (lists + df + stats) can see mixed
  * generations. Epoch layouts close that seam the way modern table
  * formats do (Iceberg snapshots, Delta's log): mutations write NEW
  * generation directories and publish them by atomically creating ONE
  * numbered manifest file; readers resolve the highest committed
  * manifest once per query and pin every directory it names.
  *
  * Layout on disk, all under one `path`:
  * {{{
  *   _manifest_<N>        one small text file per committed epoch
  *   g<N>/<component>/    parquet dirs written by the epoch-N mutation
  * }}}
  * A manifest maps component name → the generation dirs (relative to
  * `path`) that TOGETHER hold that component — so an append publishes
  * a new epoch whose `lists` component is the old segment dirs PLUS
  * one delta dir, without rewriting or even touching the old ones.
  *
  * The guarantees, each pinned in `EpochServeSpec`:
  *
  *  - ATOMIC VISIBILITY: a manifest is written to a temp name and
  *    renamed into place — readers see a complete epoch or none of it,
  *    never a half-published one. A crash before the rename leaves
  *    only invisible orphan directories; the replayed mutation
  *    regenerates them (overwrite mode) and commits.
  *  - SNAPSHOT ISOLATION: a reader that resolved epoch N keeps reading
  *    epoch N's directories even while N+1 commits — old generations
  *    are immutable and survive until [[prune]] retires them. No mixed
  *    reads: every directory a query touches came from one manifest.
  *  - EXACTLY-ONCE MUTATION: each manifest carries the applied-batch
  *    ledger (caller-namespaced ids, e.g. `app_7`, `del_3`); a
  *    replayed mutation whose id is already in the CURRENT manifest is
  *    a mechanical no-op — the ledger commits in the same rename as
  *    the data it describes, the property [[Layout.replaceDir]] needed
  *    marker files for.
  *
  * Concurrency contract: MANY readers, ONE mutator at a time (the
  * standard table-format discipline — mutations serialize through the
  * maintenance worker; [[commit]] fails loudly if a competing manifest
  * appears). [[prune]] bounds retention: a reader pinned on an epoch
  * older than the keep horizon can lose directories mid-query, exactly
  * like Iceberg snapshot expiry — size `keep` to the longest query.
  *
  * Adoption map: postings ([[EpochPostings]]) serve from epochs beside
  * their swap layout; materialized views ([[graft.plans.EpochMv]]),
  * the positional phrase index ([[EpochPositional]]), the suggest
  * dictionary ([[EpochSuggest]]) and both vector indexes (float IVF
  * [[EpochAnn]], IVF-PQ [[EpochIvfpq]]) are epoch-only — each is the
  * one way its state is built, maintained and read; hybrid retrieval
  * composes the epoch postings + IVF faces. The NEAR-DUP tier
  * deliberately stays on the [[Layout.replaceDir]] swap discipline: its
  * ingest gate is a read-your-own-writes loop (each micro-batch's verdicts
  * must see the segments the PREVIOUS batch appended, and `ingestVerdicts`
  * replay safety keys off in-place segment state, NearDup.scala) — pinning
  * that pipeline to a snapshot epoch per batch would re-admit every dup that
  * arrived since the pinned epoch, so the gate reads latest state by design
  * and its serving face inherits the maintenance-window contract instead. */
private[graft] object Epoch {

  /** The TWO filesystem primitives the whole epoch design rests on —
    * extracted so a store adapter is an argument, not a rewrite:
    *
    *  - `atomicRename(src, dst)`: publish a manifest. Must be atomic
    *    and fail (not clobber) if `dst` exists mid-flight.
    *  - `atomicCreate(p)`: CAS-claim an epoch number ([[occ]]). Must
    *    be O_CREAT|O_EXCL semantics — exactly one creator wins.
    *
    * STORE CONTRACT: local POSIX filesystems, HDFS/ViewFS (namenode-
    * arbitrated), and ABFS/GCS (single-object atomic rename + create-
    * if-absent preconditions) satisfy both. Raw S3-class stores do
    * NOT: `rename` is copy+delete and `create(overwrite=false)` is
    * check-then-act, so two OCC writers can both "win" a claim and a
    * half-copied manifest can become visible — the atomicity the
    * design rests on silently degrades. [[HadoopCommitPrimitive]]
    * therefore REJECTS known object-store schemes loudly; an S3
    * deployment supplies a conditional-put-backed implementation
    * (`If-None-Match`/`x-amz-copy-source` preconditions) or fronts
    * the layout roots with an atomic-namespace store. */
  trait CommitPrimitive {
    def atomicRename(fs: org.apache.hadoop.fs.FileSystem,
        src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Boolean
    def atomicCreate(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Boolean
  }

  /** The default primitive: Hadoop `rename`/`createNewFile`, gated on
    * a scheme allowlist so the unsafe stores fail LOUDLY at the first
    * commit instead of corrupting under concurrency. The local scheme
    * routes create through `java.io.File.createNewFile` (O_CREAT|
    * O_EXCL — POSIX-atomic); Hadoop's own `createNewFile` default is
    * check-then-act on local FS and two racers can both "win". */
  object HadoopCommitPrimitive extends CommitPrimitive {
    private val AtomicSchemes =
      Set("file", "hdfs", "viewfs", "abfs", "abfss", "gs")
    private def gate(fs: org.apache.hadoop.fs.FileSystem): Unit = {
      val scheme = Option(fs.getUri.getScheme).getOrElse("file")
      require(AtomicSchemes.contains(scheme),
        s"Epoch: scheme '$scheme' is not on the atomic-commit " +
          "allowlist (raw S3-class stores implement rename as " +
          "copy+delete and create(overwrite=false) as check-then-act) " +
          "— supply a conditional-put CommitPrimitive or front the " +
          "layout root with HDFS/ABFS/GCS/local")
    }
    def atomicRename(fs: org.apache.hadoop.fs.FileSystem,
        src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Boolean = {
      gate(fs); fs.rename(src, dst)
    }
    def atomicCreate(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Boolean = {
      gate(fs)
      fs match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          try new java.io.File(p.toUri.getPath).createNewFile()
          catch { case _: java.io.IOException => false }
        case other =>
          try other.createNewFile(p)
          catch { case _: java.io.IOException => false }
      }
    }
  }

  /** One committed epoch: `components` maps name → generation dirs
    * RELATIVE to the layout root; `applied` is the namespaced
    * mutation-batch ledger (newest last, capped at [[LedgerCap]]). */
  final case class Manifest(epoch: Long,
      components: Map[String, Seq[String]],
      applied: Seq[String]) {
    def dirs(root: String, component: String): Seq[String] =
      components.getOrElse(component, Seq.empty).map(d => s"$root/$d")
    def has(batchKey: String): Boolean = applied.contains(batchKey)
    def next: Long = epoch + 1
  }

  /** Ledger cap — streaming replay only ever re-asks about the most
    * recent uncommitted batch per checkpoint (the [[Layout]] marker
    * cap's reasoning), so the newest 128 ids are the only ones a
    * replay can probe. */
  private val LedgerCap = 128

  private def fs(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private val ManifestName = "_manifest_(\\d+)".r

  /** Resolve the CURRENT epoch: highest committed `_manifest_<N>`.
    * One small-file read per query — the reader's only coordination
    * point; everything after is pinned. None on a never-built layout. */
  def resolve(s: SparkSession, path: String): Option[Manifest] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = fs(s, path)
    if (!f.exists(root)) return None
    val ns = f.listStatus(root).map(_.getPath.getName).collect {
      case ManifestName(n) => n.toLong
    }
    if (ns.isEmpty) None else Some(readManifest(s, path, ns.max))
  }

  /** Resolve a SPECIFIC committed epoch — the time-travel read face
    * (Iceberg's snapshot-id read): serve the layout exactly as it
    * stood when epoch `n` committed, regardless of what mutated since.
    * None if that epoch was never committed or [[prune]] already
    * retired it (history is bounded by the retention horizon — as-of
    * reads reach back only `keep` epochs). */
  def resolveAsOf(s: SparkSession, path: String, n: Long)
      : Option[Manifest] = {
    val p = new org.apache.hadoop.fs.Path(path, s"_manifest_$n")
    if (!fs(s, path).exists(p)) None
    else Some(readManifest(s, path, n))
  }

  private def readManifest(s: SparkSession, path: String, n: Long)
      : Manifest = {
    val p = new org.apache.hadoop.fs.Path(path, s"_manifest_$n")
    val in = fs(s, path).open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val kv = lines.map { l =>
      val Array(k, v) = l.split("\t", 2); (k, v)
    }
    val applied = kv.collectFirst { case ("applied", v) => v } match {
      case Some("") | None => Seq.empty[String]
      case Some(v) => v.split(",").toSeq
    }
    Manifest(n,
      kv.collect {
        case (k, v) if k != "epoch" && k != "applied" =>
          k -> (if (v.isEmpty) Seq.empty[String] else v.split(",").toSeq)
      }.toMap,
      applied)
  }

  /** Publish epoch `m.epoch`: serialize to `_manifest_<N>.tmp`, then
    * ATOMICALLY rename into place via `prim` ([[HadoopCommitPrimitive]]
    * unless a store adapter is supplied — see [[CommitPrimitive]]'s
    * store contract). Fails loudly if the epoch number is already
    * committed (a competing mutator — the single-mutator contract was
    * violated) rather than clobbering it. Relative dirs only; the
    * applied ledger is capped to the newest [[LedgerCap]]. */
  def commit(s: SparkSession, path: String, m: Manifest,
      prim: CommitPrimitive = HadoopCommitPrimitive): Unit = {
    val f = fs(s, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) f.mkdirs(root)
    val fin = new org.apache.hadoop.fs.Path(path, s"_manifest_${m.epoch}")
    require(!f.exists(fin),
      s"Epoch.commit: epoch ${m.epoch} of $path already committed — " +
        "concurrent mutators are not supported (serialize mutations " +
        "through one maintenance worker)")
    val body = (Seq(s"epoch\t${m.epoch}",
      s"applied\t${m.applied.takeRight(LedgerCap).mkString(",")}") ++
      m.components.toSeq.sortBy(_._1).map { case (k, v) =>
        require(k != "epoch" && k != "applied" && !k.contains("\t"),
          s"Epoch.commit: reserved/invalid component name $k")
        v.foreach(d => require(!d.startsWith("/") && !d.contains(","),
          s"Epoch.commit: component dirs must be relative, comma-free: $d"))
        s"$k\t${v.mkString(",")}"
      }).mkString("", "\n", "\n")
    val tmp = new org.apache.hadoop.fs.Path(path,
      s"_manifest_${m.epoch}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    require(prim.atomicRename(f, tmp, fin),
      s"Epoch.commit: publish of epoch ${m.epoch} at $path failed")
  }

  /** The generation scratch prefix for the mutation building epoch
    * `n`. Clears any orphan of a CRASHED prior attempt at the same
    * epoch first — safe under the single-mutator contract, because an
    * existing committed manifest `n` makes [[commit]] refuse anyway. */
  def genDir(s: SparkSession, path: String, n: Long): String = {
    val g = s"$path/g$n"
    val f = fs(s, path)
    require(!f.exists(new org.apache.hadoop.fs.Path(path,
      s"_manifest_$n")),
      s"Epoch.genDir: epoch $n already committed at $path")
    f.delete(new org.apache.hadoop.fs.Path(g), true)
    g
  }

  // ------------------------------------------------------------------
  // Optimistic concurrency — the MULTI-WRITER face.
  //
  // [[commit]] alone carries the single-mutator contract: a competing
  // writer fails loudly. [[occ]] upgrades that to the table-format
  // discipline (Delta/Iceberg commit protocol): a writer CAS-claims the
  // epoch number it intends to commit, and a loser REBASES — waits for
  // the winner's manifest, re-resolves, and re-runs its mutation
  // against the new current epoch. Because every mutation in this
  // module is ledger-keyed and re-resolves `current` internally, the
  // re-run IS the rebase: an append retried after a competing append
  // recomputes its df/stats merge on top of the winner's epoch, and a
  // replayed batch id stays a no-op.
  // ------------------------------------------------------------------

  private def claimPath(path: String, n: Long) =
    new org.apache.hadoop.fs.Path(path, s"_claim_$n")

  /** CAS-claim epoch `n`: atomically create the zero-length
    * `_claim_<n>` marker through the commit primitive ([[CommitPrimitive]]
    * — O_EXCL create; the scheme gate rejects stores where two racers
    * could both "win"). Exactly one writer wins a given number. */
  private def claim(s: SparkSession, path: String, n: Long,
      prim: CommitPrimitive): Boolean = {
    val f = fs(s, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) f.mkdirs(root)
    prim.atomicCreate(f, claimPath(path, n))
  }

  private def release(s: SparkSession, path: String, n: Long): Unit =
    fs(s, path).delete(claimPath(path, n), false)

  /** Break an ORPHANED claim (its writer died between claim and
    * commit). Operator/maintenance action only — breaking a LIVE
    * writer's claim re-opens the lost-update race [[occ]] closes;
    * verify the claimed epoch was never committed first. */
  def breakClaim(s: SparkSession, path: String, n: Long): Unit = {
    require(!fs(s, path).exists(new org.apache.hadoop.fs.Path(path,
      s"_manifest_$n")),
      s"Epoch.breakClaim: epoch $n at $path IS committed — nothing to " +
        "break (prune retires stale claims below the committed head)")
    release(s, path, n)
  }

  /** Run `mutation` as an optimistically-concurrent writer: claim the
    * next epoch number, run the mutation (which resolves `current`
    * itself and commits AT MOST the claimed epoch), release the claim.
    * On a lost claim, wait for the winner's manifest (or its released
    * claim) and retry — the retried mutation rebases by construction
    * (it re-resolves the new current manifest; its ledger key makes an
    * already-applied batch a no-op). Contract: one committed epoch per
    * `occ` block (compose lifecycles as successive blocks), and ALL
    * writers of a multi-writer layout go through `occ` — a bare
    * [[commit]] beside it re-opens the race. `maxWaitMs` bounds the
    * total wait across retries; exceeding it fails loudly naming the
    * blocking claim so an operator can [[breakClaim]] a dead writer's
    * orphan rather than silently dropping the mutation. */
  def occ[A](s: SparkSession, path: String, maxWaitMs: Long = 120000L,
      prim: CommitPrimitive = HadoopCommitPrimitive)(
      mutation: => A): A = {
    val f = fs(s, path)
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    while (true) {
      val n = resolve(s, path).map(_.next).getOrElse(0L)
      if (claim(s, path, n, prim)) {
        // the claim may be stale-won (a winner committed n and released
        // between our resolve and our claim) — re-check before mutating
        if (resolve(s, path).map(_.next).getOrElse(0L) != n) {
          release(s, path, n)
        } else {
          try return mutation
          finally release(s, path, n)
        }
      } else {
        // lost the claim: wait for the winner to commit (manifest n
        // appears) or abort/no-op (claim disappears), then rebase
        val manifest = new org.apache.hadoop.fs.Path(path, s"_manifest_$n")
        while (f.exists(claimPath(path, n)) && !f.exists(manifest)) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"Epoch.occ: epoch $n of $path claimed by another writer " +
                s"for over ${maxWaitMs}ms — if that writer is dead, " +
                s"breakClaim($n) clears its orphan")
          Thread.sleep(20L)
        }
      }
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"Epoch.occ: could not commit at $path within ${maxWaitMs}ms")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read one component of a PINNED manifest: a multi-dir parquet scan
    * (one relation, filters/pruning push down exactly as on a single
    * dir). Empty component → None. */
  def read(s: SparkSession, path: String, m: Manifest,
      component: String): Option[DataFrame] = {
    val ds = m.dirs(path, component)
    if (ds.isEmpty) None else Some(graft.Pq.read(s, ds: _*))
  }

  /** Retire history: keep the newest `keep` manifests plus every
    * generation directory any KEPT manifest references; delete older
    * manifests, unreferenced `g<N>` directories, and orphan tmp files.
    * Readers pinned beyond the horizon lose their snapshot — the
    * documented retention trade (Iceberg snapshot expiry); run prune
    * with `keep` sized to the longest-running query. */
  def prune(s: SparkSession, path: String, keep: Int = 3): Unit = {
    require(keep >= 1, s"Epoch.prune: keep=$keep")
    val f = fs(s, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return
    val names = f.listStatus(root).map(_.getPath.getName)
    val epochs = names.collect { case ManifestName(n) => n.toLong }.sorted
    if (epochs.isEmpty) return
    val kept = epochs.takeRight(keep).toSet
    val liveDirs: Set[String] = kept.flatMap(n =>
      readManifest(s, path, n).components.values.flatten
        .map(_.split("/").head))
    epochs.filterNot(kept).foreach(n =>
      f.delete(new org.apache.hadoop.fs.Path(path, s"_manifest_$n"), false))
    names.filter(_.startsWith("g")).foreach { d =>
      if (d.matches("g\\d+") && !liveDirs.contains(d) &&
          // never reap the IN-FLIGHT mutation's staging generation
          d.stripPrefix("g").toLong <= epochs.max)
        f.delete(new org.apache.hadoop.fs.Path(path, d), true)
    }
    names.filter(_.matches("_manifest_\\d+\\.tmp")).foreach(t =>
      f.delete(new org.apache.hadoop.fs.Path(path, t), false))
    // stale OCC claims at or below the committed head are spent (their
    // epoch was committed or superseded); claims ABOVE the head may be
    // a live writer's and are never touched here (see breakClaim)
    names.filter(_.matches("_claim_\\d+")).foreach { c =>
      if (c.stripPrefix("_claim_").toLong <= epochs.max)
        f.delete(new org.apache.hadoop.fs.Path(path, c), false)
    }
  }

  /** The committed epoch numbers at `path`, ascending — one FS
    * listing. Empty on a never-built layout. */
  def committedList(s: SparkSession, path: String): Seq[Long] = {
    val f = fs(s, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).map(_.getPath.getName)
      .collect { case ManifestName(n) => n.toLong }.sorted.toSeq
  }

  /** Committed (visible) epochs at `path` — the retained-history
    * statistic [[graft.ops.Maintenance]]'s prune cadence reads; one FS
    * listing, no file IO. 0 when the layout does not exist yet. */
  def committedEpochs(s: SparkSession, path: String): Int = {
    val f = fs(s, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return 0
    f.listStatus(root).map(_.getPath.getName)
      .count(n => ManifestName.matches(n))
  }

  /** The epoch whose commit INTRODUCED ledger key `key` — how
    * [[Snapshot.ingestBoth]] pins the exact epoch its own append
    * produced instead of whatever head a concurrent writer advanced to
    * since. Ledgers accumulate (each commit appends to its
    * predecessor's), so the introducing manifest is the OLDEST one
    * carrying the key: one manifest read per retained epoch ascending,
    * stopping at the first hit. None if the batch never committed
    * (empty batch). Caveat: if the introducing epoch was pruned while
    * newer ledgers still carry the key (within [[LedgerCap]] commits),
    * this returns the oldest RETAINED holder — callers needing the
    * exact historical commit after pruning must record it themselves
    * (e.g. [[EpochTable]] resolves versions through its per-epoch meta
    * component instead). */
  def epochWith(s: SparkSession, path: String, key: String)
      : Option[Long] =
    committedList(s, path).iterator
      .find(n => readManifest(s, path, n).has(key))

  /** Orphaned multi-writer residue at `path` — the observability face
    * [[graft.ops.Maintenance]] reports so a crashed OCC writer's
    * leftovers are operable instead of silent:
    *
    *  - `claims`: `_claim_<n>` markers ABOVE the committed head with
    *    their age in ms. A young claim is a LIVE writer mid-commit; an
    *    old one is a dead writer blocking every later [[occ]] call at
    *    its number — verify the epoch was never committed, then
    *    [[breakClaim]] it.
    *  - `stagingBytes`: bytes under `g<N>` staging directories above
    *    the head (a crashed writer's half-written generation —
    *    deliberately never reaped by [[prune]], which cannot tell a
    *    crash orphan from a live writer's in-flight dir). At 100 TB an
    *    orphaned generation is real money: after `breakClaim`, the
    *    next committed epoch at that number overwrites it
    *    ([[genDir]] clears first), or delete it by hand. */
  final case class Orphans(claims: Seq[(Long, Long)],
      stagingBytes: Long, stages: Seq[(String, Long)] = Seq.empty)

  def orphans(s: SparkSession, path: String): Orphans = {
    val f = fs(s, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return Orphans(Seq.empty, 0L)
    val stats = f.listStatus(root)
    val head = stats.map(_.getPath.getName)
      .collect { case ManifestName(n) => n.toLong }
      .foldLeft(-1L)(math.max)
    val now = System.currentTimeMillis()
    val claims = stats.toSeq
      .filter(_.getPath.getName.matches("_claim_\\d+"))
      .map(st => (st.getPath.getName.stripPrefix("_claim_").toLong,
        now - st.getModificationTime))
      .filter(_._1 > head)
      .sortBy(_._1)
    // `_stage_*` dirs are SQL row-level/CTAS staging — present only
    // while a statement is mid-write (commit renames them away, abort
    // deletes them); an OLD one is a crashed statement's leftover
    val stages = stats.toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_stage_"))
      .map(st => (st.getPath.getName, now - st.getModificationTime))
      .sortBy(-_._2)
    val staging = stats.toSeq
      .filter(st => st.isDirectory &&
        ((st.getPath.getName.matches("g\\d+") &&
          st.getPath.getName.stripPrefix("g").toLong > head) ||
          st.getPath.getName.startsWith("_stage_")))
      .map(st => f.getContentSummary(st.getPath).getLength)
      .sum
    Orphans(claims, staging, stages)
  }

  /** Reap CRASHED statements' staging dirs: delete `_stage_*` older
    * than `olderThanMs` (a live statement's staging is young — size
    * the threshold to the longest-running DML; commit renames staging
    * away and abort deletes it, so anything old is an orphan by
    * construction). Returns the reaped names — operator/maintenance
    * action, reported by [[orphans]] first. */
  def reapStages(s: SparkSession, path: String,
      olderThanMs: Long): Seq[String] = {
    val f = fs(s, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return Seq.empty
    val now = System.currentTimeMillis()
    f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_stage_") &&
        now - st.getModificationTime > olderThanMs)
      .map { st => f.delete(st.getPath, true); st.getPath.getName }
  }
}
