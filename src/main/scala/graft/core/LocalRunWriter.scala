package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Driver-local parquet run writer — the WRITE-side twin of
  * `LocalPointReader`: a driver-sized batch (a REST point write, a small
  * delete) lands as one immutable run file with NO Spark job (~5 ms vs the
  * ~100 ms per-job floor). The files are ordinary parquet with Spark's
  * standard logical types (3-level LIST, key_value MAP), so every existing
  * reader — Spark scans, the driver-local point reader's first-touch decode,
  * the delta/tombstone aggregations — consumes them exactly like
  * Spark-written runs; `LocalRunWriterSpec` asserts byte-level read
  * equivalence against a Spark-written twin.
  *
  * Crash safety mirrors the store protocol: the file is written under a
  * dot-prefixed temp name (invisible to every run listing — Spark's and
  * `listRuns`' conventions both skip dotfiles), then ATOMIC_MOVE'd to its
  * final name; a crash mid-write leaves only an ignored dotfile. Callers
  * sequence the move before any version-counter/stamp advance, same as the
  * Spark write path.
  */
object LocalRunWriter {

  /** "Driver-sized": batches at or under this row count write locally;
    * larger ones take the distributed Spark write (a single-threaded
    * driver serialization of an unbounded batch would stall the caller).
    * Shared by every local-write gate (store appends, delta/tombstone
    * runs) so the invariant has one definition.
    */
  val MaxLocalRows = 1024

  // parsed-once base for local-write Configurations (see writeRun)
  private lazy val baseLocalConf = {
    val c = new Configuration()
    c.size() // force the lazy XML-resource parse NOW, once
    c
  }

  /** The DocStore row schema (`DocStore.schema`) in parquet form. All
    * fields optional: Spark reads parquet columns as nullable regardless,
    * and tombstone rows carry null vector/params.
    */
  private val storeSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary id (STRING);
      |  optional group vector (LIST) {
      |    repeated group list {
      |      optional float element;
      |    }
      |  }
      |  optional group params (MAP) {
      |    repeated group key_value {
      |      required binary key (STRING);
      |      optional binary value (STRING);
      |    }
      |  }
      |  optional int64 version;
      |  optional int64 seq;
      |  optional boolean is_deleted;
      |}""".stripMargin)

  /** The hnsw `_delta` sidecar schema (id, vector, version). */
  private val deltaSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary id (STRING);
      |  optional group vector (LIST) {
      |    repeated group list {
      |      optional float element;
      |    }
      |  }
      |  optional int64 version;
      |}""".stripMargin)

  /** The `_tombstones` sidecar schema (id, ver). */
  private val tombSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary id (STRING);
      |  optional int64 ver;
      |}""".stripMargin)

  /** One store run: (id, vector|null, params|null, is_deleted) rows, all
    * stamped `version`, seq = position in the batch (the sequential-put
    * winner rule, identical to `DocStore.appendRows`). The file NAME also
    * carries the version (`RunNames.localRun`) so readers can refuse the
    * run until the counter commits it, and the commit-retry loop can delete
    * exactly this file on a cross-process counter collision. Returns the
    * published path.
    */
  def writeStoreRun(dataDir: String,
      rows: Seq[(String, Seq[Float], Map[String, String], Boolean)],
      version: Long): String = {
    val path = writeRun(dataDir, storeSchema, RunNames.localRun(version)) { record =>
      rows.zipWithIndex.foreach { case ((id, vec, params, deleted), i) =>
        record { r =>
        r.add("id", id)
        if (vec != null) {
          val vg = r.addGroup("vector")
          vec.foreach(f => vg.addGroup("list").add("element", f))
        }
        if (params != null) {
          val pg = r.addGroup("params")
          params.foreach { case (k, v) =>
            val kv = pg.addGroup("key_value")
            kv.add("key", k)
            if (v != null) kv.add("value", v)
          }
        }
        r.add("version", version)
        r.add("seq", i.toLong)
        r.add("is_deleted", deleted)
        }
      }
    }
    // write-side residency: the next point read serves this run from the
    // rows we already hold instead of decoding the file we just wrote
    LocalPointReader.registerRun(path, rows, version)
    path
  }

  /** One delta run: (id, vector) rows stamped `version`. */
  def writeDeltaRun(deltaDir: String, rows: Seq[(String, Seq[Float])],
      version: Long): Unit =
    writeRun(deltaDir, deltaSchema, freshName()) { record =>
      rows.foreach { case (id, vec) =>
        record { r =>
          r.add("id", id)
          val vg = r.addGroup("vector")
          vec.foreach(f => vg.addGroup("list").add("element", f))
          r.add("version", version)
        }
      }
    }

  /** One typed extra layout column on a locally-written layout row — the
    * encode kernels' outputs (`codes ARRAY<INT>`, `sq_code`/`bq_code`
    * BINARY, `__rvec ARRAY<FLOAT>`).
    */
  sealed trait LayoutCol
  final case class BytesCol(v: Array[Byte]) extends LayoutCol
  final case class IntsCol(v: Array[Int]) extends LayoutCol
  final case class FloatsCol(v: Array[Float]) extends LayoutCol

  /** One maintained-layout row: the store columns plus the tier's encode
    * outputs. `clusterId` Some ⇒ the row lands under the layout's
    * `cluster_id=N` partition directory (the clustered tiers' physical
    * pruning layout); None ⇒ flat. `seq` is the row's position in the
    * caller's batch (insert-only unique-id batches ⇒ seq never decides an
    * LWW winner, same as the Spark branch's monotonically_increasing_id).
    */
  final case class LayoutRow(id: String, vector: Seq[Float],
      params: Map[String, String], seq: Long, clusterId: Option[Int],
      extra: Seq[(String, LayoutCol)])

  /** Append a driver-sized batch of encoded layout rows — the local twin of
    * the maintained-ingest Spark append (`encoded.write.mode("append")
    * [.partitionBy("cluster_id")].parquet(layoutPath)`). Column order
    * matches the Spark branch's frame (id, vector, params, version, seq,
    * is_deleted, then the encode columns; cluster_id lives in the directory
    * name, not the file, exactly like `partitionBy`). One run file per
    * touched partition — a point write touches one or a few cells.
    */
  def writeLayoutRuns(layoutDir: String, rows: Seq[LayoutRow], version: Long): Unit = {
    if (rows.isEmpty) return
    val schema = layoutSchema(rows.head.extra)
    rows.groupBy(_.clusterId).foreach { case (cidOpt, group) =>
      val dir = cidOpt.fold(layoutDir)(cid => s"$layoutDir/cluster_id=$cid")
      writeRun(dir, schema, freshName()) { record =>
        group.foreach { row =>
          record { r =>
            r.add("id", row.id)
            val vg = r.addGroup("vector")
            row.vector.foreach(f => vg.addGroup("list").add("element", f))
            if (row.params != null) {
              val pg = r.addGroup("params")
              row.params.foreach { case (k, v) =>
                val kv = pg.addGroup("key_value")
                kv.add("key", k)
                if (v != null) kv.add("value", v)
              }
            }
            r.add("version", version)
            r.add("seq", row.seq)
            r.add("is_deleted", false)
            row.extra.foreach {
              case (n, BytesCol(bytes)) =>
                r.add(n, org.apache.parquet.io.api.Binary.fromConstantByteArray(bytes))
              case (n, IntsCol(ints)) =>
                val g = r.addGroup(n)
                ints.foreach(x => g.addGroup("list").add("element", x))
              case (n, FloatsCol(floats)) =>
                val g = r.addGroup(n)
                floats.foreach(x => g.addGroup("list").add("element", x))
            }
          }
        }
      }
    }
  }

  /** Store columns + the tier's extra encode columns, in frame order. */
  private def layoutSchema(extra: Seq[(String, LayoutCol)]): MessageType = {
    val extraFields = extra.map {
      case (n, _: BytesCol) => s"  optional binary $n;"
      case (n, _: IntsCol) =>
        s"  optional group $n (LIST) { repeated group list { optional int32 element; } }"
      case (n, _: FloatsCol) =>
        s"  optional group $n (LIST) { repeated group list { optional float element; } }"
    }.mkString("\n")
    MessageTypeParser.parseMessageType(
      s"""message spark_schema {
         |  optional binary id (STRING);
         |  optional group vector (LIST) {
         |    repeated group list {
         |      optional float element;
         |    }
         |  }
         |  optional group params (MAP) {
         |    repeated group key_value {
         |      required binary key (STRING);
         |      optional binary value (STRING);
         |    }
         |  }
         |  optional int64 version;
         |  optional int64 seq;
         |  optional boolean is_deleted;
         |$extraFields
         |}""".stripMargin)
  }

  /** One tombstone-sidecar run: (id, ver) rows. */
  def writeTombstoneRun(tombDir: String, ids: Seq[String], ver: Long): Unit =
    writeRun(tombDir, tombSchema, freshName()) { record =>
      ids.foreach { id =>
        record { r =>
          r.add("id", id)
          r.add("ver", ver)
        }
      }
    }

  private def freshName(): String =
    s"part-local-${java.util.UUID.randomUUID().toString}.parquet"

  private def writeRun(dir: String, schema: MessageType, name: String)(
      emit: ((SimpleGroup => Unit) => Unit) => Unit): String = {
    val prof = java.lang.Boolean.getBoolean("graft.profile.write")
    var t = System.nanoTime()
    def lap(tag: String): Unit = if (prof) {
      val now = System.nanoTime()
      System.err.println(f"[run-prof] $tag ${(now - t) / 1e6}%.2f ms")
      t = now
    }
    val local = ControlFs.isLocalRoot(dir)
    // the session's hadoop conf (spark.hadoop.* credentials/endpoints) —
    // the run must land on the SAME store the data plane resolves. The
    // local conf COPIES a cached base: a bare `new Configuration()` lazily
    // re-parses the XML default resources PER INSTANCE (~20 ms — measured
    // as the dominant share of the point write's per-run cost); the copy
    // constructor clones the parsed properties instead. A fresh instance
    // is still required per write because GroupWriteSupport.setSchema
    // mutates it.
    val conf = if (local) new Configuration(LocalRunWriter.baseLocalConf)
      else new Configuration(ControlFs.hadoopConf())
    val hfs = if (local) null else new Path(dir).getFileSystem(conf)
    if (local) Files.createDirectories(Paths.get(dir)) else hfs.mkdirs(new Path(dir))
    val tmpName = s".$name.tmp"
    GroupWriteSupport.setSchema(schema, conf)
    // parquet-mr writes through the dir's Hadoop FS (scheme-aware), so the
    // driver-direct run write works against remote roots too; the
    // dot-prefixed temp stays invisible to every run listing either way
    // plain local dirs write through java.nio (LocalOutputFile): the
    // Hadoop LocalFileSystem stack (ChecksumFileSystem stream + crc
    // sidecar + FS resolution) measured 20-45 ms PER WRITER CREATION on
    // the point-write path — the dominant cost of a maintained REST write
    // at 2-3 run files per request. Scheme'd dirs keep the Hadoop path
    // (that stack IS the remote store).
    val writer = (if (local)
      ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(
        Paths.get(dir).resolve(tmpName)))
    else ExampleParquetWriter.builder(new Path(s"$dir/$tmpName")))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      // driver runs hold <= MaxLocalRows rows (KBs, not the default 128 MB
      // row group / 1 MB pages the writer sizes its buffers for): small
      // buffers cut the per-writer alloc+init cost, which IS the point
      // write's floor at 2-3 writer creations per request
      .withRowGroupSize(1L << 20)
      .withPageSize(64 << 10)
      .withDictionaryPageSize(64 << 10)
      .build()
    lap("builder")
    try {
      // populate-then-write per record: ParquetWriter.write serializes the
      // group's content at call time
      emit { fill =>
        val g = new SimpleGroup(schema)
        fill(g)
        writer.write(g)
      }
    } finally { lap("emit"); writer.close(); lap("close") }
    if (local) {
      val dirPath = Paths.get(dir)
      Files.move(dirPath.resolve(tmpName), dirPath.resolve(name),
        StandardCopyOption.ATOMIC_MOVE)
    } else {
      // atomic on HDFS/POSIX; on object stores a torn copy+delete strands
      // only an invisible dotfile — the run is visible iff whole (single
      // object), which is all the commit protocol needs. The boolean MUST
      // be checked: FileSystem.rename reports some failures (vanished
      // parent dir, cross-dir constraints) by returning false, and a
      // silently-lost run here would still commit the version counter —
      // acknowledged rows gone (nio's Files.move throws instead)
      try {
        if (!hfs.rename(new Path(s"$dir/$tmpName"), new Path(s"$dir/$name")))
          throw new java.io.IOException(
            s"run rename failed: $dir/$tmpName -> $dir/$name")
      } catch {
        case e: Throwable =>
          // a copy+delete rename can THROW with the destination already
          // visible whole (crash between the two) — this write failed, so
          // the caller will never commit its version, and a LATER batch
          // committing the same value would resurrect these rows as ties.
          // Retract both sides before propagating (a hard process crash
          // skips this, which is what the lease-steal reconciliation
          // covers — the crashed holder's lease survives to be stolen).
          scala.util.Try(hfs.delete(new Path(s"$dir/$name"), false))
          scala.util.Try(hfs.delete(new Path(s"$dir/$tmpName"), false))
          throw e
      }
    }
    // the Hadoop local fs writes a checksum sidecar for the TEMP name;
    // harmless (dotfile) but pointless after the rename — drop it
    if (local) Files.deleteIfExists(Paths.get(dir).resolve(s".$tmpName.crc"))
    else hfs.delete(new Path(s"$dir/.$tmpName.crc"), false)
    lap("rename+crc")
    s"$dir/$name"
  }
}
