package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}

/** Shared crash-safe marker-file IO: every on-disk control file in the
  * engine (DocStore's `_version` counter, Engine's layout stamps, streaming
  * replay ledger/intent markers) commits via
  * tmp + atomic rename, so a reader never observes a truncated file.
  *
  * Read-side policies differ by file AUTHORITY and stay at the call sites:
  * recoverable markers degrade to "absent" on corrupt content
  * (`readLongSafe` → fall back / rebuild), while DocStore's version counter
  * is authoritative and must never be defaulted — its reads stay strict.
  */
object AtomicFiles {

  // Historical note: rounds 9–10 carried a `requireLocalRoot` guard here
  // that REFUSED non-local roots, because the control plane was java.nio
  // and a remote root would have split control state (local disk) from
  // data (remote store) — silent corruption. The round-11 `ControlFs` seam
  // retires that refusal: control IO now routes per-scheme (java.nio on
  // plain local roots, Hadoop markers + create-exclusive manifest counters
  // elsewhere), so Engine/DocStore/Catalog construct on any Hadoop-FS root.

  def atomicWrite(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Corrupt-tolerant read for RECOVERABLE markers (crash mid-write must
    * degrade to None, never wedge the recovery path).
    */
  def readLongSafe(p: Path): Option[Long] =
    if (!Files.exists(p)) None
    else scala.util.Try(Files.readString(p).trim.toLong).toOption

  /** Hadoop-FS twins for state that must live WHERE THE DATA LIVES
    * (streaming dedup state rides the same `stateDir` as its parquet
    * partitions — hdfs://, s3a://, or plain local paths): write tmp then
    * rename-with-overwrite via `FileContext`, whose rename contract is
    * atomic on HDFS and POSIX-rename on the local FS. The java.nio variants
    * above stay for engine-local control files.
    *
    * ATOMICITY CONTRACT: the rename is transactional ONLY on HDFS/POSIX
    * filesystems. On object stores (s3a://, gs://) rename is copy+delete —
    * a crash inside it can leave the `.tmp` stranded next to a stale or
    * fresh marker, and the two writes are separately visible. Callers that
    * target object stores must therefore tolerate BOTH staleness and a
    * leftover `.tmp` (monotone markers that only advance, readers that
    * treat corrupt/absent as "no progress", idempotent re-writes — exactly
    * the `readLongSafe*` discipline). Markers whose read-back must be
    * authoritative belong on a rename-atomic FS or behind a
    * conditional-put primitive, not this helper.
    */
  def atomicWriteHadoop(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent())
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  def readLongSafeHadoop(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): Option[Long] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }.toOption
  }
}
