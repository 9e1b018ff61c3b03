package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** The filesystem atomicity primitives the snapshot layer's commit
  * protocol is built on, shared by [[SnapshotTables]] (per-table
  * version CAS) and [[CommitLog]] (catalog-level commit-log CAS) so
  * both lines of commits have IDENTICAL semantics.
  *
  * See the concurrency notes on [[SnapshotTables]] for why local-FS
  * exclusive create must go through POSIX link(2) rather than Hadoop's
  * check-then-create, and what the S3A caveat is.
  */
private[graft] object AtomicFs {

  /** Exclusive create — the commit CAS. Returns false ONLY when `p`
    * already exists (another writer won). Any other I/O failure is a
    * genuine error and propagates — it must not be misreported as a
    * lost race — and leaves no partial file that could wedge the slot
    * for everyone. */
  def createExclusive(f: FileSystem, p: Path, content: String): Boolean =
    if (f.getScheme == "file") {
      // The content goes to a hidden sibling first, which link(2) then
      // claims `p` with: POSIX-atomic and failing when `p` exists, so
      // `p` appears with its full content — a reader listing the dir
      // never parses it empty or half written. (Hadoop's local
      // create(overwrite=false) is check-THEN-create: two racing
      // writers can both pass the check and both "win".)
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      val tmp = java.nio.file.Paths.get(tempOf(p).toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try {
        java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
        java.nio.file.Files.createLink(local, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val out =
        try f.create(p, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => null
          // some FileSystems predate the typed exception and signal an
          // existing file as a plain IOException — treat as lost race
          // only when the file demonstrably exists
          case _: java.io.IOException if f.exists(p) => null
        }
      if (out == null) false
      else
        try {
          try out.write(content.getBytes("UTF-8"))
          finally out.close()
          true
        } catch {
          // CONDITIONAL-PUT stores (S3 If-None-Match — the s3g wire
          // FS) only learn about the losing race when the buffered
          // object uploads at close(): that is a lost CAS, and the
          // loser's object never landed — nothing to delete (deleting
          // here would kill the WINNER's file)
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException =>
            try f.delete(p, false)
            catch { case _: java.io.IOException => () }
            throw e
        }
    }

  def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Overwrite a small metadata file WITHOUT a torn-read window: write
    * to a unique sibling temp, then move it over the destination. On
    * the local FS the move is POSIX-atomic (ATOMIC_MOVE), and the temp
    * is written with java.nio too: Hadoop's checksummed local FS would
    * give it a `.crc` sidecar the move leaves behind. A `.crc` sidecar
    * an earlier checksummed write left for `p` itself is removed BEFORE
    * the move — left in place, it would fail every checksummed read of
    * the new content. Elsewhere it degrades to delete+rename — a
    * reader can then briefly see the file absent (and fall back to its
    * documented no-file behavior) but can never see half the content. */
  def replaceSmall(f: FileSystem, p: Path, content: String): Unit = {
    val tmp = tempOf(p)
    if (f.getScheme == "file") {
      val local = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      java.nio.file.Files.write(local, content.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(local.resolveSibling(s".${p.getName}.crc"))
      java.nio.file.Files.move(local, java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = f.create(tmp, true)
      try out.write(content.getBytes("UTF-8"))
      finally out.close()
      if (f.exists(p)) f.delete(p, false)
      if (!f.rename(tmp, p)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"rename $tmp -> $p failed")
      }
    }
  }

  /** A unique hidden sibling of `p` — its leading dot keeps it out of
    * every listing regex and every dot-filtering listing. */
  private def tempOf(p: Path): Path =
    new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID}")
}
