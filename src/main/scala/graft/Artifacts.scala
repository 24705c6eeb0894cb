package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-JVM artifact store for small derived tables that are expensive
  * to recompute but cheap to keep: trained PQ codebooks, dedup-cluster
  * component labelings — things a production engine publishes to a
  * catalog next to the data rather than rebuilding per process (FAISS
  * persists its quantizer with the index; dedup systems materialize the
  * cluster assignment as a table). [[Scratch]] is the complement: per-JVM
  * working space, deleted at exit; artifacts survive the JVM and are
  * keyed by CONTENT fingerprint + parameters, so a regenerated corpus or
  * changed parameters build a NEW artifact instead of serving stale
  * results.
  *
  * Atomicity: each builder writes to a private staging directory and
  * ATOMIC_MOVE-renames it into place — concurrent builders race benignly
  * (the loser deletes its staging copy and reads the winner's), and a
  * torn write is an unreferenced staging dir, never a half-read
  * artifact. The _SUCCESS marker remains the completeness check for
  * artifacts written by older code paths. */
object Artifacts {

  /** Artifact root — overridable for tests (system property, checked
    * per call so a spec can point at a fresh dir in-process) and
    * deployments (env var). */
  def root: String =
    sys.props.get("graft.artifacts")
      .orElse(sys.env.get("GRAFT_ARTIFACTS"))
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_artifacts")

  /** Content fingerprint of a frame's backing files: path + length +
    * mtime per file, SHA-256-folded to 16 hex chars. Empty string for
    * in-memory frames (no stable identity to key on — callers must
    * build fresh).
    *
    * With `-Dgraft.artifacts.contentHash=true` (or
    * `GRAFT_ARTIFACTS_CONTENT_HASH=1`) the first and last 64 KiB of
    * each file join the digest — closing the stale-serve hole where an
    * in-place rewrite preserves both length and mtime (unreachable
    * through Spark writers, which always emit fresh part-file names,
    * but possible for hand-managed files). Head+tail rather than full
    * content keeps the cost O(#files), not O(bytes): a parquet
    * rewrite that changes any data changes the footer (metadata +
    * row-group offsets) and almost always the header pages too. */
  def contentHashEnabled: Boolean =
    sys.props.get("graft.artifacts.contentHash")
      .orElse(sys.env.get("GRAFT_ARTIFACTS_CONTENT_HASH"))
      .exists(v => v == "true" || v == "1")

  private val HashBlock = 65536

  def fingerprint(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) ""
    else {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.sorted.foreach { f =>
        val p = try new java.io.File(new java.net.URI(f)) catch {
          case _: Exception => new java.io.File(f)
        }
        md.update(s"$f:${p.length}:${p.lastModified}".getBytes("UTF-8"))
        if (contentHashEnabled && p.isFile) {
          val raf = new java.io.RandomAccessFile(p, "r")
          try {
            val head = new Array[Byte](math.min(HashBlock.toLong, raf.length).toInt)
            raf.readFully(head)
            md.update(head)
            if (raf.length > HashBlock) {
              val tail = new Array[Byte](math.min(HashBlock.toLong, raf.length - HashBlock).toInt)
              raf.seek(raf.length - tail.length)
              raf.readFully(tail)
              md.update(tail)
            }
          } finally raf.close()
        }
      }
      md.digest().take(8).map(b => f"$b%02x").mkString
    }
  }

  /** True iff `dir` holds a complete artifact (committed rename always
    * includes Spark's _SUCCESS marker). */
  private def complete(dir: java.io.File): Boolean =
    new java.io.File(dir, "_SUCCESS").isFile

  /** Recursive delete, robust to CONCURRENT deleters: another recoverer
    * racing over the same torn target makes `Files.walk` throw
    * NoSuchFileException (or an UncheckedIOException wrapping one)
    * mid-iteration as entries vanish under it — each attempt swallows
    * that and retries until the tree is gone (the race's goal state)
    * or attempts run out. */
  private def deleteTree(f: java.io.File): Unit = {
    import java.nio.file.Files
    var attempts = 5
    while (f.exists() && attempts > 0) {
      attempts -= 1
      try {
        val walk = Files.walk(f.toPath)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      } catch {
        case _: java.nio.file.NoSuchFileException => // concurrent deleter won a subtree
        case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] =>
        case _: java.nio.file.DirectoryNotEmptyException => // concurrent writer; retry
      }
    }
  }

  /** Publish `stage` as `dir` atomically; if another builder won the
    * race with a COMPLETE artifact, discard the staging copy and use the
    * winner's; a torn target (no marker — e.g. a legacy in-place write
    * that crashed) is cleared and the move retried once. Whatever path
    * is taken — including an exception on the final retry — the staging
    * dir never outlives the call (deleted in `finally`; a successful
    * move leaves nothing at the stage path, so the delete is a no-op). */
  def publish(stage: java.io.File, dir: java.io.File): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    def move(): Unit = {
      Files.move(stage.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE); ()
    }
    try {
      try move()
      catch {
        case _: java.nio.file.FileSystemException if complete(dir) =>
          // lost the race to an identical build; finally discards stage
        case _: java.nio.file.FileSystemException =>
          deleteTree(dir)   // torn target from a crashed legacy write
          try move()
          catch {
            case _: java.nio.file.FileSystemException if complete(dir) =>
              () // a concurrent recoverer finished first
          }
      }
    } finally deleteTree(stage)
  }

  /** Stage dirs orphaned by a crashed builder (never renamed, never
    * cleaned) are swept by age on the serve path: anything named
    * `.stage_*` untouched for an hour is dead — a live builder's write
    * keeps refreshing its staging files' mtimes. */
  private val StaleStageMs = 3600L * 1000
  private[graft] def sweepStaleStages(rootDir: java.io.File): Unit = {
    val now = System.currentTimeMillis
    Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(".stage_") &&
        now - f.lastModified > StaleStageMs)
      .foreach(deleteTree)
  }

  /** Serve the artifact at `key`, building and persisting it first if no
    * complete artifact exists. The build writes to a staging dir and
    * renames into place (see class doc), so two concurrent sessions can
    * never interleave part files under one _SUCCESS. The returned frame
    * reads FROM the artifact in both cases, so first-build and reload
    * callers see the identical physical table. */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val dir = new java.io.File(root, key)
    if (!complete(dir)) {
      sweepStaleStages(new java.io.File(root))
      val stage = new java.io.File(root,
        s".stage_${key}_${java.util.UUID.randomUUID.toString.take(8)}")
      build.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      publish(stage, dir)
    }
    ParquetMeta.read(s, dir.toString)
  }
}
