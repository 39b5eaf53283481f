package graft.versioned

import java.nio.file.Path

/** CONTINUOUS Iceberg export ("sync mode"): once a (ref, table) is
  * registered with an export directory, every subsequent commit that
  * advances that ref re-emits the table's Iceberg metadata there —
  * new `v<N>.metadata.json`, manifests and version-hint — so ANY
  * Iceberg-aware external engine sees each graft commit immediately,
  * the live visibility the reference gets structurally from its
  * tables BEING Iceberg (`LakeFSTableOperations.java:115-147` commits
  * metadata per write; version-hint at :210-231). Point-in-time
  * `iceberg_export` remains the one-shot form; sync is the standing
  * subscription.
  *
  * Registration storage goes through the repo's [[GraftIO]] seam, like
  * every other repo metadata byte: the current registration set is an
  * IMMUTABLE versioned object `iceberg-sync/r<N>.json`, and `register`
  * publishes version N+1 with the same createExclusive compare-and-set
  * every commit uses — two concurrent registers race on the version
  * number and the loser re-reads and retries through the same
  * [[GraftRepo.casRetry]] loop and budget, on the local FS and
  * object-store backends alike. Readers take the highest version
  * present (retrying if a concurrent prune deletes a just-listed file);
  * a handful of superseded versions are kept as a reader grace window
  * and pruned beyond that. A returning register/unregister is held by
  * the newest version at its return: a won CAS is re-checked against
  * the newest set, because a writer that stalled past a prune can win a
  * pruned version number that readers never take. Under sustained
  * contention a caller gives up with [[CommitConflictException]] after
  * the budget instead of landing silently lost. A pre-seam
  * `iceberg-sync.json` (single mutable file) is still read as the
  * version-0 fallback and migrated into the versioned stream by the
  * next `register`.
  *
  * Drift protocol: after any successful ref advance ([[GraftRepo]]'s
  * CAS — the single funnel all commits, merges and rollbacks pass
  * through), each registration on that ref compares the table's current
  * snapshot id against the `graft.source-snapshot` recorded in the
  * dest's newest metadata version and re-exports only on drift —
  * self-healing (a missed or failed emission is repaired by the next
  * commit) and idempotent (no-op when the table didn't change).
  * Re-emission is O(changed manifest chunks) driver work, so following
  * a commit costs what the reference's own metadata commit costs.
  *
  * Multi-table commits: emissions are NOT atomic across dests — an
  * external reader polling two dests can observe the new fact table
  * before the new dim table (or vice versa). What IS guaranteed:
  * registrations of one ref emit in deterministic (table, dest) order,
  * and every emission triggered by the same commit stamps the same
  * `graft.source-commit` property in its metadata, so external
  * consumers needing cross-table consistency join on that id (read
  * each dest's newest version whose source-commit matches).
  *
  * Retention: a registration may carry `keepVersions` >= 1, in which
  * case each successful emission is followed by
  * [[IcebergExport.expireDest]] with that budget (age-guarded) — a
  * standing sync neither grows its dest without bound nor needs manual
  * `iceberg_export_expire` calls. `keepVersions` = 0 keeps everything.
  *
  * Failure posture: a broken emission (e.g. merge-on-read tombstones
  * with no active SparkSession to write positional deletes) WARNS and
  * leaves the export one version behind rather than failing the user's
  * commit — the graft table itself is the source of truth; the export
  * is a follower that catches up on the next commit.
  */
object IcebergSync {

  // formatVersion 0 = auto (pre-r10 registrations deserialize to 0 —
  // jackson fills an absent primitive with 0); 3 = v3 deletion vectors
  final case class Reg(ref: String, table: String, dest: String,
      snapshots: Int, keepVersions: Int = 0, formatVersion: Int = 0)

  /** Superseded registration versions kept as a grace window for racing
    * readers (a reader that listed version N must still be able to read
    * it while a register publishes N+1 and prunes).
    */
  private val PruneKeep = 4

  private def legacyPath(root: Path): Path = root.resolve("iceberg-sync.json")
  private def regDir(root: Path): Path = root.resolve("iceberg-sync")
  private def regFile(root: Path, v: Int): Path =
    regDir(root).resolve(f"r$v%08d.json")

  private def mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  private val VRe = """r(\d+)\.json""".r

  private def versionsPresent(root: Path, io: GraftIO): Seq[Int] =
    io.list(regDir(root)).flatMap(p => p.getFileName.toString match {
      case VRe(n) => Some(n.toInt)
      case _ => None
    }).sorted

  /** Current registration set + the version that holds it (0 = legacy
    * file or nothing). Retries when a concurrent prune wins the race
    * between our list and our read — the newer version it protects is
    * what the re-list finds. Any other read or parse failure propagates:
    * a corrupt registration file is an error, not churn.
    */
  private def currentWithVersion(root: Path, io: GraftIO,
      attempt: Int = 1): (Seq[Reg], Int) =
    versionsPresent(root, io).lastOption match {
      case Some(v) =>
        try (readRegs(io, regFile(root, v)), v)
        catch {
          case _: java.nio.file.NoSuchFileException if attempt < 10 =>
            currentWithVersion(root, io, attempt + 1) // pruned under us
        }
      case None =>
        (if (io.isFile(legacyPath(root))) readRegs(io, legacyPath(root))
          else Nil, 0)
    }

  private def readRegs(io: GraftIO, p: Path): Seq[Reg] =
    mapper.readValue(io.readString(p), classOf[Array[Reg]]).toSeq

  def registrations(repo: GraftRepo): Seq[Reg] =
    currentWithVersion(repo.root, repo.io)._1

  /** Record a standing export; idempotent on (ref, table, dest) — a
    * re-register replaces the matching entry (so `snapshots` /
    * `keepVersions` can be updated in place).
    */
  def register(repo: GraftRepo, reg: Reg): Unit =
    update(repo)(_.filterNot(r => r.ref == reg.ref && r.table == reg.table &&
      r.dest == reg.dest) :+ reg)

  /** Remove registrations matching (ref, table[, dest]); returns how
    * many were dropped.
    */
  def unregister(repo: GraftRepo, ref: String, table: String,
      dest: Option[String] = None): Int = {
    def matches(r: Reg) = r.ref == ref && r.table == table &&
      dest.forall(_ == r.dest)
    update(repo)(_.filterNot(matches)).count(matches)
  }

  /** Publish `f(current)` as the next registration version; returns the
    * set `f` was applied to. Nothing is published when `f` leaves the set
    * unchanged. `f` must be idempotent (register and unregister are):
    * concurrent callers race on the version number through
    * [[GraftRepo.casRetry]], and a lost CAS re-reads and re-applies.
    *
    * A won CAS is confirmed against the newest version: a caller that
    * stalled between its read and its publish can re-create a version
    * number [[prune]] already deleted, win that CAS, and still be shadowed
    * by the newer versions readers take — so the update re-runs until the
    * newest set holds it.
    */
  private def update(repo: GraftRepo)(f: Seq[Reg] => Seq[Reg]): Seq[Reg] = {
    val root = repo.root
    val io = repo.io
    def holds(regs: Seq[Reg]) = f(regs).toSet == regs.toSet
    GraftRepo.casRetry {
      val (cur, v) = currentWithVersion(root, io)
      if (!holds(cur)) {
        io.mkdirs(regDir(root))
        if (!io.createExclusive(regFile(root, v + 1),
            mapper.writeValueAsString(f(cur).toArray)))
          throw new CommitConflictException(
            s"iceberg-sync registration version ${v + 1} already published")
        if (!holds(currentWithVersion(root, io)._1))
          throw new CommitConflictException(
            s"iceberg-sync registration version ${v + 1} was shadowed " +
              "by a newer version")
        prune(root, io, v + 1)
      }
      cur
    }
  }

  private def prune(root: Path, io: GraftIO, published: Int): Unit = {
    versionsPresent(root, io)
      .filter(_ <= published - PruneKeep)
      .foreach(v => try io.deleteIfExists(regFile(root, v))
        catch { case _: Exception => () }) // best-effort
    // the pre-seam file is superseded the moment a versioned set exists
    try io.deleteIfExists(legacyPath(root)) catch { case _: Exception => () }
  }

  /** Newest existing metadata version in `dest` (0 = none yet). */
  def latestVersion(dest: Path): Int = latestVersion(new NioDestIO(dest))

  private[versioned] def latestVersion(dest: DestIO): Int =
    versionsOf(dest).maxOption.getOrElse(0)

  /** Every v<N>.metadata.json version number present in the dest. */
  private def versionsOf(dest: DestIO): Seq[Int] = {
    if (!dest.isDirectory("metadata")) return Nil
    val Re = """v(\d+)\.metadata\.json""".r
    dest.listNames("metadata").flatMap {
      case Re(n) => Some(n.toInt)
      case _ => None
    }
  }

  /** Cross-dest JOIN POINT for a multi-table commit — the executable
    * form of the consistency recipe above. Emissions are not atomic
    * across dests, so an external reader wanting ONE transaction's view
    * of fact + dim must not read each dest's newest version; this
    * resolves, per dest, the newest metadata version that represents
    * the table's state AT `commit`:
    *
    *  - its `graft.source-commit` is `commit` or an ANCESTOR of it
    *    (a table untouched by the commit was last emitted earlier), and
    *  - its `graft.source-snapshot` is one of the commit's LIVE table
    *    snapshot ids (snapshots are content-addressed, so this says
    *    "this emission IS some table's state at the commit") — which
    *    rejects a LAGGING follower (the table changed but its emission
    *    hasn't landed yet; returning the older version would be a
    *    silently inconsistent pair).
    *
    * Returns dest -> metadata path/URI; `None` for a dest that has no
    * consistent version YET (mid-emission observer — retry after the
    * follower catches up, which the next commit guarantees).
    */
  def consistentVersions(repo: GraftRepo, commit: String,
      dests: Seq[String]): Map[String, Option[String]] = {
    val anc = repo.ancestors(commit) // includes `commit` itself
    val snapsAt = repo.commit(commit).tables.values.toSet
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    dests.map { d =>
      val dio = DestIO.of(d)
      val versions = versionsOf(dio).sorted(Ordering[Int].reverse)
      val hit = versions.iterator.flatMap { v =>
        scala.util.Try {
          val props = om.readTree(
            dio.readString(s"metadata/v$v.metadata.json")).get("properties")
          (v, props.get("graft.source-commit").asText(),
            props.get("graft.source-snapshot").asText())
        }.toOption
      }.find { case (_, srcCommit, srcSnap) =>
        anc.contains(srcCommit) && snapsAt.contains(srcSnap)
      }
      d -> hit.map { case (v, _, _) => dio.displayPath(s"metadata/v$v.metadata.json") }
    }.toMap
  }

  /** The graft snapshot id the dest's newest metadata was exported
    * from, or None when nothing readable is there yet.
    */
  private def exportedSnapshot(dest: DestIO): Option[String] = {
    val v = latestVersion(dest)
    if (v == 0) None
    else scala.util.Try {
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(dest.readString(s"metadata/v$v.metadata.json"))
      meta.get("properties").get("graft.source-snapshot").asText()
    }.toOption
  }

  /** Export the next metadata version into `dest` (used by both the
    * sync-mode CALL and the post-commit follower). `Reg.dest` with a
    * URI scheme (s3a://…) routes through the Hadoop FileSystem for
    * that scheme — see [[IcebergExport.exportTo]]. Returns the written
    * metadata path/URI.
    */
  def syncExport(repo: GraftRepo, reg: Reg,
      spark: Option[org.apache.spark.sql.SparkSession]): String = {
    val d = DestIO.of(reg.dest)
    IcebergExport.export(repo, reg.ref, reg.table, d, spark, reg.snapshots,
      latestVersion(d) + 1, reg.formatVersion)
  }

  /** Post-ref-advance hook: re-emit every drifted registration on
    * `branch`, in deterministic (table, dest) order, then apply each
    * registration's retention budget. Never throws — see failure
    * posture above.
    */
  def onRefAdvance(repo: GraftRepo, branch: String): Unit = {
    // per-commit fast path: one stat when no sync has ever been set up
    if (!repo.io.isDirectory(regDir(repo.root)) &&
      !repo.io.isFile(legacyPath(repo.root))) return
    registrations(repo).filter(_.ref == branch)
      .sortBy(r => (r.table, r.dest)).foreach { reg =>
        try {
          val sid = repo.resolve(branch).tables.get(reg.table)
          sid match {
            case Some(s) if !exportedSnapshot(DestIO.of(reg.dest))
                .contains(s) =>
              syncExport(repo, reg,
                org.apache.spark.sql.SparkSession.getActiveSession)
              // keep the default 10-min age guard even here: nothing
              // ENFORCES that sync is the dest's only writer — a
              // concurrent one-shot iceberg_export CALL (or a second
              // repo syncing to the same dest) can have just-written,
              // not-yet-referenced files mid-publish. The guard's only
              // cost is delayed cleanup of this emission's own garbage.
              if (reg.keepVersions >= 1)
                IcebergExport.expireDest(DestIO.of(reg.dest),
                  reg.keepVersions, olderThanMs = 600000L)
            case _ => () // table unchanged (or dropped): nothing to emit
          }
        } catch {
          case e: Throwable => System.err.println(
            s"[graft] WARNING: iceberg sync export of ${reg.table} @ " +
              s"$branch -> ${reg.dest} failed (${e.getMessage}); the " +
              "export is one version behind and will catch up on the " +
              "next commit")
        }
      }
  }
}
