package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The engine's CONTROL-PLANE filesystem: every non-parquet control file —
  * version counters, generation pointers, layout stamps, intent markers,
  * catalog sidecars, model snapshots — goes through this seam, so the same
  * Engine/DocStore/Catalog protocol runs on a plain local root (java.nio,
  * the serving-latency path) or a Hadoop `FileSystem` root (hdfs://,
  * s3a://, or a test scheme) with the control state living WHERE THE DATA
  * LIVES. This retires the round-10 `requireLocalRoot` refusal: non-local
  * roots are now admitted, not rejected (the refusal existed only because
  * java.nio control IO on a remote root would have split control state from
  * data — see `AtomicFiles.requireLocalRoot`'s original contract).
  *
  * Two durability classes, mirroring the read-side policy split that
  * `AtomicFiles` documents:
  *
  *  - RECOVERABLE MARKERS (`atomicWrite`/`readLongSafe`/`readLinesSafe`):
  *    layout stamps, intents, ledgers, epochs. Writers go
  *    tmp + rename (atomic on POSIX/HDFS); readers degrade corrupt/absent
  *    to "marker absent" → fall back / rebuild. On object stores, where
  *    rename is copy+delete, a torn write reads as absent-or-old — every
  *    marker's protocol already treats that as "stale → fallback", never
  *    as a lie (the markers are written only when they EQUAL live state,
  *    so an old value can never certify a newer layout).
  *
  *  - AUTHORITATIVE MONOTONE COUNTERS (`counterInit`/`counterRead`/
  *    `counterCommit`): the DocStore `_version` counter and the data/layout
  *    generation pointers, whose loss or rollback is NOT recoverable (a
  *    rolled-back generation pointer would read a GC'd directory). The nio
  *    implementation keeps the existing single-file tmp+ATOMIC_MOVE
  *    protocol (bit-compatible with every store written so far). The
  *    Hadoop implementation uses a MANIFEST SEQUENCE instead — one
  *    create-EXCLUSIVE immutable file per committed value under
  *    `<path>.d/`, read = max over a listing — because a single rewritten
  *    file cannot be committed atomically on object stores: each manifest
  *    entry is a single all-or-nothing object PUT, create-exclusive gives
  *    conditional-put semantics (two racing writers of the same value fail
  *    loudly instead of silently last-writer-winning), and a crash between
  *    PUT and GC leaves only superseded entries that max() ignores. This
  *    is the same immutable-manifest commit discipline the table formats
  *    (Iceberg/Delta) use for their root pointers.
  */
trait ControlFs {

  // ---- recoverable markers ----
  def atomicWrite(path: String, content: String): Unit
  def readLongSafe(path: String): Option[Long]
  def readLinesSafe(path: String): Option[Vector[String]]

  /** Create `path` with `content` iff it does not exist — all-or-nothing
    * (the conditional-PUT primitive the writer lease builds on). Returns
    * false when the path already exists; throws on real IO failure.
    */
  def createExclusive(path: String, content: String): Boolean

  /** Move `src` to `dst` (same FileSystem). Atomic on nio/HDFS; on object
    * stores the destination appears whole (single-object PUT) but the pair
    * is not transactional — callers' protocols must tolerate both-visible.
    * Throws when the move does not complete.
    */
  def rename(src: String, dst: String): Unit

  // ---- strict small-file IO (catalog sidecars, model snapshots) ----
  def readString(path: String): String

  // ---- generic tree ops ----
  def exists(path: String): Boolean
  def mkdirs(path: String): Unit
  def listNames(path: String): Seq[String]
  def deleteIfExists(path: String): Unit
  def deleteRecursively(path: String): Unit

  // ---- authoritative monotone counters ----
  /** Create the counter at `v` iff it does not exist yet. */
  def counterInit(path: String, v: Long = 0L): Unit
  /** Committed value, None when the counter was never initialized. Strict:
    * a counter that exists but cannot be read THROWS (authoritative state
    * must never be defaulted).
    */
  def counterRead(path: String): Option[Long]
  /** Commit `v`. Values must only advance. Throws
    * [[CounterCollisionException]] when `v` was already CLAIMED by a racing
    * writer (Hadoop: the manifest entry exists; nio: the commit token
    * exists) — the loud cross-process collision the DocStore write retry
    * loop recovers from (delete the batch stamped `v`, re-read, re-stamp).
    */
  def counterCommit(path: String, v: Long): Unit
}

/** A racing writer already claimed this counter value. `collided` lets the
  * retry loop advance PAST the claimed value even when the claim never
  * became the committed read (a crash between token and counter write on a
  * nio root) — retrying `counterRead + 1` alone would collide forever.
  */
final class CounterCollisionException(val path: String, val collided: Long,
    cause: Throwable)
  extends java.io.IOException(
    s"counter $path: value $collided already claimed by a racing writer", cause)

object ControlFs {

  /** Plain paths (null scheme) and Windows drive letters are local;
    * anything else — file://, hdfs://, s3a://, test schemes — routes to the
    * Hadoop implementation (file:// too: java.nio cannot address it as
    * written, and Hadoop's local FS handles it correctly).
    */
  def isLocalRoot(root: String): Boolean = {
    val scheme = try new java.net.URI(root).getScheme
      catch { case _: java.net.URISyntaxException => null }
    scheme == null || scheme.length == 1
  }

  /** The Hadoop configuration CONTROL IO must resolve against: the active
    * Spark session's (so `spark.hadoop.*` credentials/endpoints configured
    * the standard way reach the control plane — a bare `new Configuration()`
    * would authenticate/route differently than the data plane, the exact
    * split-state hazard this seam exists to close), falling back to a plain
    * `Configuration` (ServiceLoader + core-site) when no session is up.
    */
  def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  // memoized only once a SESSION is present — newHadoopConf() copies the
  // whole conf (too hot for per-request serving paths), but a plain lazy
  // val would freeze a session-less bare Configuration forever if the
  // first read raced session startup, splitting control reads from the
  // data plane (ADVICE r11)
  @volatile private var servingConfMemo: Configuration = null

  /** `hadoopConf()` memoized for the serving hot paths (point reads, cell
    * loads). Shared: callers that need to set keys copy it first.
    */
  def servingConf(): Configuration = {
    val c = servingConfMemo
    if (c != null) c
    else {
      val fresh = hadoopConf()
      if (org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).isDefined)
        servingConfMemo = fresh
      fresh
    }
  }

  /** The control filesystem for a root. The Hadoop side resolves scheme
    * implementations through the standard `FileSystem` ServiceLoader +
    * core-site mechanism AND the Spark session's `spark.hadoop.*` settings.
    */
  def forRoot(root: String): ControlFs =
    if (isLocalRoot(root)) NioControlFs else new HadoopControlFs(hadoopConf())
}

/** java.nio implementation — plain local roots. Counter protocol is the
  * pre-port single-file tmp+ATOMIC_MOVE (bit-compatible: existing stores
  * read and advance unchanged).
  */
object NioControlFs extends ControlFs {
  override def atomicWrite(path: String, content: String): Unit =
    AtomicFiles.atomicWrite(Paths.get(path), content)

  override def readLongSafe(path: String): Option[Long] =
    AtomicFiles.readLongSafe(Paths.get(path))

  override def readLinesSafe(path: String): Option[Vector[String]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else scala.util.Try(Files.readAllLines(p).asScala.toVector).toOption
  }

  override def createExclusive(path: String, content: String): Boolean = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    try {
      Files.write(p, content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  override def rename(src: String, dst: String): Unit = {
    Files.move(Paths.get(src), Paths.get(dst),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  override def readString(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  override def exists(path: String): Boolean = Files.exists(Paths.get(path))

  override def mkdirs(path: String): Unit = {
    Files.createDirectories(Paths.get(path)); ()
  }

  override def listNames(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Seq.empty
    val s = Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString).toVector
    finally s.close()
  }

  override def deleteIfExists(path: String): Unit = {
    Files.deleteIfExists(Paths.get(path)); ()
  }

  override def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally stream.close()
    }
  }

  override def counterInit(path: String, v: Long): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    // tmp + ATOMIC_MOVE, same as counterCommit: a plain Files.write torn by
    // a crash would leave a counter the STRICT counterRead can never parse —
    // a permanently wedged collection (ADVICE r11)
    if (!Files.exists(p)) AtomicFiles.atomicWrite(p, v.toString)
  }

  override def counterRead(path: String): Option[Long] = {
    val p = Paths.get(path)
    val fileV =
      if (!Files.exists(p)) None
      else Some(new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong) // strict: no default
    // the TOKEN is the commit point (same as the Hadoop manifest, where
    // the entry IS the commit): every caller publishes its payload —
    // name-versioned runs, a fully-written generation dir — durably
    // BEFORE counterCommit, so a claimed token always denotes a completed
    // write even when the holder crashed before advancing the counter
    // file. Reading max(file, tokens) makes the committed value monotone
    // under concurrent commits (a delayed slower writer's last-writer-wins
    // file write can no longer regress what readers — including a
    // lease-steal's orphan reconciliation — observe) and self-heals the
    // stranded-token wedge (a gen-pointer commit interrupted between
    // token and file write would otherwise collide at that value forever).
    val tokenV = maxToken(path)
    (fileV, tokenV) match {
      case (Some(a), Some(b)) => Some(math.max(a, b))
      case (a, b) => a.orElse(b)
    }
  }

  private def maxToken(path: String): Option[Long] = {
    val d = Paths.get(s"$path.d")
    if (!Files.isDirectory(d)) return None
    val s = Files.list(d)
    try {
      val vs = s.iterator().asScala.flatMap { t =>
        val n = t.getFileName.toString
        if (n.length == 21 && n.charAt(0) == 'v')
          scala.util.Try(n.substring(1).toLong).toOption
        else None
      }.toSeq
      if (vs.isEmpty) None else Some(vs.max)
    } finally s.close()
  }

  /** Commit = claim a create-exclusive per-value token under `<path>.d/`
    * (the same manifest discipline as the Hadoop side — CREATE_NEW on a
    * local FS is atomic), then advance the counter file itself via
    * tmp+ATOMIC_MOVE. The TOKEN is the commit point; `counterRead` reads
    * max(file, tokens), so the last-writer-wins file write is a readable
    * convenience, never the authority (a delayed slower writer overwriting
    * a faster writer's higher value cannot regress the committed view —
    * rolled-back reads would let a lease-steal's reconcile delete
    * acknowledged runs). Bit-compatible: pre-token stores have no token
    * dir and read the file unchanged. The create-exclusive tokens also
    * make two PROCESSES sharing a plain local root collide loudly on a
    * duplicate value instead of silently last-writer-winning the rename.
    * A crash between token and counter write is already committed (the
    * payload — runs, a generation dir — is durably published before any
    * counterCommit call); version gaps from retracted batches are
    * harmless — the counter is monotone, not dense.
    */
  override def counterCommit(path: String, v: Long): Unit = {
    val token = Paths.get(s"$path.d", f"v$v%020d")
    if (!createExclusive(token.toString, v.toString))
      throw new CounterCollisionException(path, v, null)
    AtomicFiles.atomicWrite(Paths.get(path), v.toString)
    // GC superseded tokens (best-effort, same retention as the Hadoop
    // manifest — a failure leaves ignorable files)
    try {
      val dir = Paths.get(s"$path.d")
      val s = Files.list(dir)
      try s.iterator().asScala.foreach { t =>
        val n = t.getFileName.toString
        if (n.length == 21 && n.charAt(0) == 'v' &&
            scala.util.Try(n.substring(1).toLong).toOption.exists(_ < v - 8))
          Files.deleteIfExists(t)
      } finally s.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

/** Hadoop `FileSystem` implementation — hdfs://, s3a://, file://, test
  * schemes. Markers commit via tmp+rename (`AtomicFiles.atomicWriteHadoop`,
  * whose object-store caveats the marker protocols tolerate by design);
  * counters commit via the create-exclusive manifest sequence documented on
  * the trait.
  */
final class HadoopControlFs(conf: Configuration) extends ControlFs {

  private def fsOf(path: String): FileSystem = new HPath(path).getFileSystem(conf)

  /** tmp + rename through the `FileSystem` API (NOT `FileContext`: that
    * requires an `AbstractFileSystem` binding which object-store schemes
    * — and s3a in particular — don't ship by default). The tmp name is
    * UNIQUE per write: a fixed name would let two concurrent writers of
    * the same marker clobber each other's tmp and publish torn/foreign
    * content. `FileSystem.rename` does not overwrite on every FS (HDFS
    * returns false when the destination exists), so an existing marker is
    * deleted first on the retry; a reader racing that window sees the
    * marker ABSENT, which every marker protocol treats as "stale → fall
    * back" — never as a lie (concurrent same-marker writers are
    * last-writer-wins, and each writer's content is a valid recent stamp).
    */
  override def atomicWrite(path: String, content: String): Unit = {
    val fs = fsOf(path)
    val p = new HPath(path)
    val tmp = new HPath(p.getParent,
      s"${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      if (!fs.rename(tmp, p)) {
        fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"marker rename failed: $tmp -> $p")
      }
    } catch {
      case e: Throwable =>
        // never strand a tmp next to the marker on a failed commit
        scala.util.Try(fs.delete(tmp, false))
        throw e
    }
    // opportunistic GC of tmps stranded by a crash BETWEEN delete(p) and
    // rename on some earlier write (this writer's tmp is already gone):
    // absence of the marker is tolerated by every protocol, but the UUID
    // tmps would otherwise accumulate unboundedly across crash cycles.
    // Time-gated per marker dir: the cutoff is 10-minutes-stale debris, so
    // sweeping on EVERY write would add one LIST (10-20 ms on an object
    // store) to hot paths — the layout-stamp advance, lease heartbeats —
    // for nothing
    val parent = p.getParent.toString
    val now = System.currentTimeMillis()
    val last = HadoopControlFs.tmpSweepAt.getOrElse(parent, 0L)
    val due = now - last > HadoopControlFs.TmpGcAgeMs / 10 &&
      (if (last == 0L) HadoopControlFs.tmpSweepAt.putIfAbsent(parent, now).isEmpty
       else HadoopControlFs.tmpSweepAt.replace(parent, last, now))
    if (due) gcStaleTmps(fs, p)
  }

  /** Delete `<marker>.<uuid>.tmp` siblings older than [[TmpGcAgeMs]] —
    * old enough that no in-flight writer still owns them (a marker write
    * is a sub-second operation; 10 minutes is crash debris, not a race).
    * Best-effort: failures leave files a later write retries.
    */
  private def gcStaleTmps(fs: FileSystem, marker: HPath): Unit =
    try {
      val prefix = s"${marker.getName}."
      val cutoff = System.currentTimeMillis() - HadoopControlFs.TmpGcAgeMs
      fs.listStatus(marker.getParent).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(prefix) && n.endsWith(".tmp") &&
            s.getModificationTime < cutoff)
          fs.delete(s.getPath, false)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  override def readLongSafe(path: String): Option[Long] =
    AtomicFiles.readLongSafeHadoop(conf, new HPath(path))

  private def readBytes(path: String): Array[Byte] = {
    val p = new HPath(path)
    val in = fsOf(path).open(p)
    try in.readAllBytes() finally in.close()
  }

  override def readLinesSafe(path: String): Option[Vector[String]] = {
    if (!exists(path)) return None
    scala.util.Try(new String(readBytes(path),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toVector).toOption
  }

  override def readString(path: String): String =
    new String(readBytes(path), java.nio.charset.StandardCharsets.UTF_8)

  override def exists(path: String): Boolean = fsOf(path).exists(new HPath(path))

  override def mkdirs(path: String): Unit = { fsOf(path).mkdirs(new HPath(path)); () }

  override def listNames(path: String): Seq[String] = {
    val fs = fsOf(path)
    val p = new HPath(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName).toVector
  }

  override def deleteIfExists(path: String): Unit = {
    fsOf(path).delete(new HPath(path), false); ()
  }

  override def deleteRecursively(path: String): Unit = {
    fsOf(path).delete(new HPath(path), true); ()
  }

  // ---- manifest-sequence counters -----------------------------------------
  //
  // <path>.d/v<%020d>: one immutable create-exclusive file per committed
  // value. Read = max over the listing (absent dir / empty dir = never
  // initialized). Commit = exclusive PUT of the new entry (a racing writer
  // of the same value collides loudly — conditional-put semantics), then GC
  // of entries more than `KeepEntries` behind (a reader racing the GC still
  // sees the max; a crash before GC leaves ignorable superseded entries).

  private val KeepEntries = 8

  private def manifestDir(path: String) = s"$path.d"
  private def entryName(v: Long) = f"v$v%020d"
  private def parseEntry(name: String): Option[Long] =
    if (name.length == 21 && name.charAt(0) == 'v')
      scala.util.Try(name.substring(1).toLong).toOption
    else None

  override def counterInit(path: String, v: Long): Unit = {
    val fs = fsOf(path)
    val dir = new HPath(manifestDir(path))
    fs.mkdirs(dir)
    // never consult (or leave behind) a cached None across the init: the
    // read below must see the real manifest, and a successful init must be
    // immediately visible (own-write currency clause of the contract)
    HadoopControlFs.cacheDrop(path)
    if (counterReadUncached(path).isEmpty) {
      // first writer wins; a racing initializer's collision is benign
      // (same protocol state either way). Local FS throws Hadoop's
      // FileAlreadyExistsException; other FSs may surface a plain
      // IOException — treat any failure with the entry now present as
      // "the race lost", anything else as real.
      val entry = new HPath(dir, entryName(v))
      try writeExclusive(fs, entry, v.toString)
      catch { case e: java.io.IOException => if (!fs.exists(entry)) throw e }
      // a concurrent counterRead in the gap above may have cached None
      // from the still-empty manifest — left in place it would serve the
      // collection as uninitialized for up to a TTL after a successful
      // init, violating the own-write-currency clause
      HadoopControlFs.cacheDrop(path)
    }
  }

  /** One LIST of the (tiny, GC-bounded) manifest dir per read. Cost note:
    * serving paths check counter currency per request, so a remote root
    * pays one NN RPC (~1 ms, HDFS) or one object-store LIST (~10-20 ms)
    * per check — fine for HDFS-class serving. Latency-critical serving on
    * an object store can OPT IN to the bounded-staleness read cache
    * (`graft.counter.cacheTtlMs`, default 0 = off — see
    * [[HadoopControlFs.counterCacheContract]]): a stale counter read can
    * serve a stale cached result as current, so the trade stays a
    * deployment's measured choice, never a default.
    */
  override def counterRead(path: String): Option[Long] = {
    HadoopControlFs.cacheGet(path).foreach(return _)
    val got = counterReadUncached(path)
    HadoopControlFs.cachePut(path, got)
    got
  }

  private def counterReadUncached(path: String): Option[Long] = {
    val fs = fsOf(path)
    val dir = new HPath(manifestDir(path))
    if (!fs.exists(dir)) return None
    val names = fs.listStatus(dir).iterator.map(_.getPath.getName).toSeq
    val vs = names.flatMap(parseEntry)
    if (vs.nonEmpty) Some(vs.max)
    else {
      // a manifest dir that exists but holds ONLY unparsable entries is
      // corrupt/foreign state, not "never initialized" — defaulting it to
      // None would let DocStore.dataDir fall back to generation 0 and read
      // a GC'd directory. Strict, per the trait contract. FS-internal
      // sidecars (dotfiles, .crc checksums from ChecksumFileSystem-backed
      // schemes) don't count as entries.
      val foreign = names.filterNot(n => n.startsWith(".") || n.endsWith(".crc"))
      if (foreign.nonEmpty)
        throw new java.io.IOException(
          s"counter manifest $dir exists but contains no parsable entries " +
            s"(foreign files: ${foreign.take(3).mkString(", ")}) — refusing " +
            "to default authoritative state")
      None
    }
  }

  override def createExclusive(path: String, content: String): Boolean = {
    val fs = fsOf(path)
    val p = new HPath(path)
    fs.mkdirs(p.getParent)
    try { writeExclusive(fs, p, content); true }
    catch {
      // LocalFileSystem-class schemes throw FileAlreadyExists; others may
      // surface a plain IOException — existence decides which it was
      case e: java.io.IOException => if (fs.exists(p)) false else throw e
    }
  }

  override def rename(src: String, dst: String): Unit = {
    val fs = fsOf(src)
    if (!fs.rename(new HPath(src), new HPath(dst)))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  }

  override def counterCommit(path: String, v: Long): Unit = {
    val fs = fsOf(path)
    val dir = new HPath(manifestDir(path))
    fs.mkdirs(dir)
    // create-exclusive: the commit either lands whole or throws — never a
    // torn counter, and a racing writer of the same value collides as a
    // typed CounterCollisionException the write retry loop recovers from
    val entry = new HPath(dir, entryName(v))
    try {
      writeExclusive(fs, entry, v.toString)
      // own-commit invalidation: this process observes its own writes
      // immediately even with the read cache on
      HadoopControlFs.cachePut(path, Some(v))
    } catch {
      case e: java.io.IOException =>
        // a collision means the cached value (if any) is behind a foreign
        // writer — drop it so the retry loop re-LISTs instead of re-reading
        // the same stale value until the TTL (which would burn the whole
        // retry budget on one foreign commit)
        HadoopControlFs.cacheDrop(path)
        if (fs.exists(entry)) throw new CounterCollisionException(path, v, e)
        else throw e
    }
    // GC superseded entries (best-effort: failures leave ignorable files)
    try fs.listStatus(dir).foreach { s =>
      parseEntry(s.getPath.getName).filter(_ < v - KeepEntries)
        .foreach(_ => fs.delete(s.getPath, false))
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  private def writeExclusive(fs: FileSystem, p: HPath, content: String): Unit = {
    val out = fs.create(p, false) // overwrite = false: create-exclusive
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}

object HadoopControlFs {
  /** Age past which a stranded `<marker>.<uuid>.tmp` is crash debris (a
    * marker write completes in well under a second). */
  private[core] val TmpGcAgeMs = 10 * 60 * 1000L

  // last stale-tmp sweep per marker dir (process-global): gates the GC
  // LIST off the per-write path — debris this sweep targets is 10-minutes
  // old by definition, so sweeping ~once a minute per dir loses nothing
  private[core] val tmpSweepAt =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** counterCacheContract — the OPT-IN bounded-staleness counter-read
    * cache (`graft.counter.cacheTtlMs` > 0 enables; default 0 = every read
    * LISTs, the always-current behavior):
    *
    *  - OWN writes are ALWAYS current: a successful commit anywhere in
    *    this process updates the cache (the map is process-global, shared
    *    by every HadoopControlFs instance, because one engine holds
    *    several), and a commit COLLISION drops the entry so retry loops
    *    re-LIST immediately.
    *  - FOREIGN writes (another process) may stay invisible for up to
    *    TTL ms: a serving path can certify a layout/cached result as
    *    current against a counter that a remote writer advanced inside
    *    the window. That — serving a result at most TTL-stale after a
    *    cross-process write — is the entire contract; pick the TTL like a
    *    replication lag budget.
    *  - Durability is untouched: writers re-verify via the create-
    *    exclusive commit, which never consults the cache.
    *
    * Why opt-in: the LIST this saves costs ~1 ms on HDFS (not worth any
    * staleness) but 10-20 ms per serve request on object stores, where a
    * measured deployment may prefer bounded staleness (CounterCacheSpec
    * pins the contract and measures both p50s under an injected-latency
    * scheme).
    */
  private def cacheTtlMs: Long =
    java.lang.Long.getLong("graft.counter.cacheTtlMs", 0L)
  private val counterCache =
    scala.collection.concurrent.TrieMap.empty[String, (Option[Long], Long)]
  private[core] def cacheGet(path: String): Option[Option[Long]] = {
    val ttl = cacheTtlMs
    if (ttl <= 0) return None
    counterCache.get(path).collect {
      case (v, at) if System.currentTimeMillis() - at < ttl => v
    }
  }
  private[core] def cachePut(path: String, v: Option[Long]): Unit =
    if (cacheTtlMs > 0) counterCache(path) = (v, System.currentTimeMillis())
  private[core] def cacheDrop(path: String): Unit = counterCache.remove(path)
  /** Test hook: forget everything (e.g. between spec scenarios). */
  private[graft] def clearCounterCache(): Unit = counterCache.clear()
}
