package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, LinkOption, Path, Paths, StandardCopyOption}

/** The storage protocol under both table forms ([[VersionedTable]]'s
  * snapshots and [[DeltaChain]]'s change records): every decision about
  * what is committed, who may commit next, and what may be deleted is
  * made here, once.
  *
  *  - '''Manifest.''' `_graft_manifest` lists the committed versions,
  *    ascending, one per line. A commit writes its data dirs completely,
  *    then publishes by writing the new list to a temp file and
  *    `ATOMIC_MOVE`-renaming it over the manifest — the single
  *    visibility point, so a crash leaves unreferenced dirs, never a
  *    torn read.
  *  - '''Claim.''' Multi-writer commits serialize through a create-new
  *    `_commit_v{n}` marker per version ([[arbitrate]]); the manifest,
  *    not the marker, stays the read point.
  *  - '''Janitor.''' Staging and spill temp dirs a dead writer left
  *    behind are swept past one age gate ([[sweepStale]]); a live
  *    writer's dir is younger than the gate.
  *  - '''Delete, listing, census.''' One recursive delete, one
  *    numbered-dir listing and one parquet file/byte census serve every
  *    table, replicator and scratch-dir caller.
  */
object TableLog {

  private val ManifestName = "_graft_manifest"

  /** Age past which a staging or spill temp dir counts as a dead
    * writer's residue: a live writer's is at most one commit old. */
  val StaleStagingMs: Long = 6L * 3600 * 1000

  private def manifestPath(baseDir: String) = Paths.get(baseDir, ManifestName)

  /** Committed versions, ascending; empty if the table does not exist. */
  def versions(baseDir: String): Seq[Int] = {
    val p = manifestPath(baseDir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      s.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    }
  }

  /** Latest committed version, or 0 for a nonexistent table. */
  def latestVersion(baseDir: String): Int =
    versions(baseDir).lastOption.getOrElse(0)

  /** Publish `vs` as the committed version list (the commit point). */
  def publish(baseDir: String, vs: Seq[Int]): Unit =
    replaceAtomically(manifestPath(baseDir), vs.mkString("", "\n", "\n"))

  /** Publish `v` on top of the committed versions. */
  def publishVersion(baseDir: String, v: Int): Unit =
    publish(baseDir, versions(baseDir) :+ v)

  /** Replace `path`'s content by write-to-temp + atomic rename, so a
    * reader sees the old bytes or the new ones, never a mix. */
  def replaceAtomically(path: Path, content: String): Unit = {
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Optimistic multi-writer commit loop. Each attempt reads the head
    * n and calls `prepare(n + 1)`, which stages this writer's commit
    * privately and returns the action that lands it. The writer then
    * CAS-claims version n+1 with `Files.createFile(_commit_v{n+1})` —
    * POSIX O_CREAT|O_EXCL create-new, so exactly one claimant wins.
    * The winner runs the landing action, which must publish n+1. A
    * loser waits for the winner's PUBLISH (the manifest, not the
    * marker, is the read point) and tries again for n+2; what it
    * staged is `prepare`'s to keep or replace.
    *
    * A writer that dies between claim and publish leaves a marker that
    * blocks its version forever: a loser fails loudly after
    * `publishWaitMs`, naming the marker, instead of spinning. Recovery
    * is operator-driven marker removal. The guarantees rest on
    * create-new and rename being atomic — true on POSIX filesystems
    * and HDFS-likes, not on bare object stores.
    *
    * Returns (committed version, attempts used). */
  def arbitrate(
      baseDir: String,
      who: String,
      maxAttempts: Int,
      publishWaitMs: Long)(prepare: Int => (() => Unit)): (Int, Int) = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val next = latestVersion(baseDir) + 1
      val land = prepare(next)
      val marker = Paths.get(baseDir, s"_commit_v$next")
      val won =
        try { Files.createFile(marker); true }
        catch { case _: FileAlreadyExistsException => false }
      if (won) {
        land()
        return (next, attempt)
      }
      val deadline = System.nanoTime() + publishWaitMs * 1000000L
      while (latestVersion(baseDir) < next) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"$who: claim marker $marker exists but v$next was never " +
              s"published within ${publishWaitMs}ms — orphaned claim (writer " +
              "died between claim and publish); remove the marker after " +
              "confirming the writer is gone")
        Thread.sleep(20)
      }
    }
    throw new IllegalStateException(
      s"$who: lost $maxAttempts consecutive commit races on $baseDir — " +
        "raise maxAttempts or reduce writer fan-in")
  }

  /** Subdirectories of `dir` (empty when `dir` does not exist). */
  private def subdirs(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isDirectory)

  /** The numbers `n` of the `{prefix}{n}` subdirectories of `dir`,
    * ascending — the on-disk view of versions, checkpoints and spills. */
  def numberedDirs(dir: String, prefix: String): Seq[Int] = {
    val pattern = s"\\Q$prefix\\E\\d+"
    subdirs(dir).map(_.getName).filter(_.matches(pattern))
      .map(_.drop(prefix.length).toInt).sorted
  }

  /** The staging janitor: delete every `prefix*` subdirectory of `dir`
    * last modified more than `staleMs` ago. A writer killed between
    * staging and cleanup leaks its dir otherwise; the age gate keeps a
    * live writer's dir — in this process or another — safe. */
  def sweepStale(dir: String, prefix: String, staleMs: Long = StaleStagingMs): Unit = {
    val cutoff = System.currentTimeMillis() - staleMs
    subdirs(dir)
      .filter(f => f.getName.startsWith(prefix) && f.lastModified() < cutoff)
      .foreach(f => deleteRecursively(f.toPath))
  }

  /** Delete `p` and everything under it; a missing path is a no-op. An
    * entry that vanishes mid-walk is skipped, but anything left behind
    * (no permission, or a writer still adding files) fails loudly with
    * an IOException naming `p`. Symbolic links are removed, never
    * followed. */
  def deleteRecursively(p: Path): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(p.toFile)
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS))
      throw new java.io.IOException(s"could not delete $p")
  }

  /** What a directory tree holds: its `.parquet` files and their bytes,
    * and the bytes of every regular file (sidecars and markers too). */
  final case class Census(files: Int, bytes: Long, allBytes: Long)

  /** [[Census]] of `dir`, recursively — a partitioned checkpoint keeps
    * its parquet in partition subdirs, a deletion-vector version its
    * mask. Directory listings only, no data read; a missing dir is
    * empty. */
  def census(dir: String): Census = {
    var files = 0
    var bytes = 0L
    var allBytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        val n = f.length()
        allBytes += n
        if (f.getName.endsWith(".parquet")) { files += 1; bytes += n }
      }
    walk(new File(dir))
    Census(files, bytes, allBytes)
  }
}
