package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, FileAlreadyExistsException}
import java.util.{Base64, UUID}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s.{JArray, JDouble, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** Minimal table-format layer over raw parquet — the missing piece
  * between the artifact stores and a lakehouse, extending the
  * [[AggStore]] write-new-then-repoint discipline from "latest version
  * wins" to a full COMMIT LOG with time travel and concurrent-writer
  * safety (the Delta/Iceberg core, reduced to its load-bearing bones):
  *
  *   <root>/data/<uuid>/part-*.parquet   immutable data file groups
  *   <root>/_commits/<v>.json            one record per commit
  *   <root>/_commits/<v>.ckpt            replayed state, every 10th
  *
  * A commit record is `{version, action, adds, removes, tag, schema}`
  * where `adds` / `removes` are data-group directories and `schema` is
  * the table schema after the commit; a checkpoint is `{version, tags,
  * schema, live}`. Both are plain JSON objects, written and read by one
  * json4s codec ([[Fields]]). The LIVE file set at version v
  * is the log replay: start empty; `append` adds its groups;
  * `overwrite` removes all prior live groups and adds its own. Readers
  * never list data directories and never infer a schema from data
  * files — the log IS the table (the key object-store lesson: listings
  * are neither atomic nor consistent; a log replay is both), and every
  * scan reads its files through the schema logged at its version.
  *
  * Atomicity + isolation: data files are written FIRST (invisible until
  * committed — an abandoned write leaves garbage, never corruption),
  * then the record is published by hard-linking a fully-written temp
  * file to `<v>.json`. Link creation is atomic and EXCLUSIVE, so two
  * writers racing for version v cannot both win — the loser re-reads
  * the log and retries at v+1 with its (version-agnostic) data groups
  * unchanged: optimistic concurrency, the Delta protocol's
  * put-if-absent reduced to POSIX. Readers see either v-1 or v, never
  * a torn state.
  *
  * Time travel: `read(spark, root, asOf = Some(v))` replays the log
  * prefix ≤ v. `vacuum` deletes data groups unreferenced by the
  * retained log suffix — after which older versions are explicitly
  * unreadable (their records remain as history, the standard trade).
  *
  * Scale shape: the log is one tiny JSON per commit (replay cost is
  * #commits, independent of data volume); data moves only through
  * ordinary distributed parquet writes/reads — nothing funnels through
  * the driver but the file-group names. Schema evolution follows the
  * lakehouse add-column rule ([[SnapshotStore.checkAppendSchema]]):
  * appends may add columns (old groups read back null-filled), drops
  * and type changes go through overwrite. The schema a commit logs is
  * taken from the Spark schema in the footers of the files it wrote
  * (the same footers its file stats come from), so no Spark job ever
  * infers it. Deliberately out of scope vs a production format:
  * multi-table transactions.
  */
object SnapshotStore {

  private def commitsDir(root: String): Path = Paths.get(root, "_commits")

  /** `schema` is the post-commit table schema, base64 of its JSON
    * ([[encodeSchema]]); only a record that adds no group may omit it.
    */
  private[graft] case class Commit(
      version: Int, action: String, adds: Seq[String],
      removes: Seq[String], tag: String = "", schema: String = "")

  /** The schema travels base64-encoded, the form every existing log
    * holds, so those logs replay without a version branch; a value
    * outside the base64 alphabet fails closed before it is decoded.
    */
  private def encodeSchema(s: StructType): String =
    Base64.getEncoder.encodeToString(s.json.getBytes(UTF_8))

  private def decodeSchema(b64: String): StructType =
    DataType.fromJson(new String(Base64.getDecoder.decode(b64), UTF_8))
      .asInstanceOf[StructType]

  /** Fail closed on a record (or checkpoint) that adds data without a
    * schema: it was written before the log recorded schemas, and no
    * fallback infers one.
    */
  private def requireSchema(what: String, schema: String,
      addsData: Boolean): Unit =
    require(schema.nonEmpty || !addsData,
      s"$what records no table schema (written before the commit log " +
        "carried one); rewrite this table")

  // ---- the log codec: one json4s object per record or checkpoint ----

  private val GroupName = "data/[0-9a-fA-F-]+".r
  private val Base64Text = "[A-Za-z0-9+/]*={0,2}".r

  private def jsonStrings(xs: Iterable[String]): JArray =
    JArray(xs.iterator.map(JString(_)).toList)

  private[graft] def render(c: Commit): String = JsonMethods.compact(JObject(
    "version" -> JInt(c.version), "action" -> JString(c.action),
    "adds" -> jsonStrings(c.adds), "removes" -> jsonStrings(c.removes),
    "tag" -> JString(c.tag), "schema" -> JString(c.schema)))

  private[graft] def render(ck: Ckpt): String = JsonMethods.compact(JObject(
    "version" -> JInt(ck.version), "tags" -> jsonStrings(ck.tags.toSeq.sorted),
    "schema" -> JString(ck.schema), "live" -> jsonStrings(ck.live)))

  /** The fields of one log object. The log is input from outside the
    * program (and [[vacuum]] deletes the groups it names), so every
    * shape it does not expect fails closed as `torn or corrupt <what>`
    * — the message [[readRetrying]] retries on: a torn read is a proper
    * prefix, and no proper prefix of an object is a JSON object. Every
    * group must be `data/<uuid>`.
    */
  private final class Fields(what: String, text: String) {
    private val fields: Map[String, JValue] =
      scala.util.Try(JsonMethods.parse(text)).toOption match {
        case Some(JObject(fs)) => fs.toMap
        case _ => fail("not a closed JSON object")
      }

    private def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"torn or corrupt $what ($why): ${text.take(200)}")

    def int(name: String): Int = fields.get(name) match {
      case Some(JInt(v)) if v.isValidInt => v.toInt
      case _ => fail(s"no $name")
    }

    /** A string field; absent reads "" when `optional`. */
    def string(name: String, optional: Boolean = false): String =
      fields.get(name) match {
        case Some(JString(v)) => v
        case None if optional => ""
        case _ => fail(s"no $name")
      }

    def strings(name: String): Vector[String] = fields.get(name) match {
      case Some(JArray(xs)) =>
        xs.iterator.map {
          case JString(v) => v
          case _ => fail(s"$name holds a non-string")
        }.toVector
      case _ => fail(s"no $name")
    }

    def groups(name: String): Vector[String] = strings(name).map { g =>
      if (GroupName.matches(g)) g else fail(s"bad group '$g'")
    }

    /** Every `name: [lo, hi]` field, as a stats range. */
    def ranges: Map[String, (Double, Double)] = fields.collect {
      case (k, JArray(List(JDouble(lo), JDouble(hi)))) => k -> (lo, hi)
    }

    def schema: String = {
      val b64 = string("schema", optional = true)
      if (Base64Text.matches(b64)) b64 else fail("schema is not base64")
    }
  }

  private[graft] def parse(s: String): Commit = {
    val f = new Fields("commit record", s)
    val c = Commit(f.int("version"), f.string("action"), f.groups("adds"),
      f.groups("removes"), f.string("tag", optional = true), f.schema)
    requireSchema(s"commit record ${c.version}", c.schema, c.adds.nonEmpty)
    c
  }

  private[graft] def parseCkpt(s: String): Ckpt = {
    val f = new Fields("checkpoint record", s)
    val ck = Ckpt(f.int("version"), f.groups("live"),
      f.strings("tags").toSet, f.schema)
    requireSchema(s"checkpoint ${ck.version}", ck.schema, ck.live.nonEmpty)
    ck
  }

  /** List a directory's entries, CLOSING the stream — Files.list leaks
    * a directory fd until GC otherwise, and the log is re-read on
    * every read/commit/retry (a streaming sink would exhaust fds).
    */
  private def listDir(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.toVector finally s.close()
    }
  }

  /** Read one commit record, retrying briefly on a TORN read: under
    * [[CreateNewPublisher]] a record's creation is exclusive but a
    * local FS does not make its CONTENT atomic — a concurrent reader
    * can observe the file mid-write. The codec fails closed on the torn
    * shape (a proper prefix is never a JSON object), so the read retries
    * until the writer's single small write completes; a record still
    * torn after the window is real corruption and fails loudly rather
    * than corrupting the replayed live set. [[HardLinkPublisher]]
    * records are content-atomic (linked only when complete) and never
    * take this path.
    *
    * The retry is AGE-GATED: a torn write is by definition fresh (the
    * writer's single small write is in flight right now), so a record
    * older than [[TornRetryMaxAgeMs]] fails immediately — otherwise a
    * permanently corrupt record would tax EVERY state() call (every
    * read and every commit attempt, multiplied by the CAS retry loop)
    * with the full 50×2 ms window before surfacing the same error.
    */
  private[graft] val TornRetryMaxAgeMs = 5000L

  private def readRetrying[A](p: Path)(parse1: String => A): A = {
    var attempts = 0
    while (true) {
      try return parse1(Files.readString(p))
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("torn or corrupt") =>
          val ageMs = System.currentTimeMillis -
            Files.getLastModifiedTime(p).toMillis
          attempts += 1
          if (attempts >= 50 || ageMs > TornRetryMaxAgeMs) throw e
          Thread.sleep(2)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def readRecord(p: Path): Commit = readRetrying(p)(parse)

  private def log(root: String): Seq[Commit] =
    listDir(commitsDir(root))
      .filter(_.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map(readRecord)

  // ---- commit-log checkpointing -----------------------------------
  //
  // Replaying the log is O(#commits) driver-side JSON reads PER ACTION
  // (and the CAS retry loop multiplies it under contention) — fine at
  // dozens of commits, unbounded over a table's ingest lifetime. Every
  // CheckpointInterval-th commit therefore also publishes a CHECKPOINT
  // record carrying the fully-replayed state at that version (live
  // group set, table schema, every appendOnce tag seen), and all hot
  // paths read latest-checkpoint + record suffix instead of the whole
  // log — the production table formats' checkpoint discipline,
  // reduced to its replay-state core. Checkpoints are derived, never
  // authoritative: a missing/lost one only means a longer replay, and
  // time travel to a version BEFORE the newest checkpoint replays the
  // retained full records (explicitly rejected once log retention has
  // pruned them).

  private[graft] val CheckpointInterval = 10

  /** A checkpoint: the replayed state at `version` — its live groups,
    * every appendOnce tag seen so far, and the table schema (base64).
    */
  private[graft] case class Ckpt(version: Int, live: Vector[String],
      tags: Set[String], schema: String)

  private def readCkpt(p: Path): Ckpt = readRetrying(p)(parseCkpt)

  /** Publish a checkpoint; a lost slot is someone else's identical one. */
  private def writeCkpt(
      dir: Path, publisher: CommitPublisher, ck: Ckpt): Unit = {
    publisher.putIfAbsent(dir, f"${ck.version}%08d.ckpt", render(ck))
    ()
  }

  /** Newest-checkpoint cache: checkpoints are IMMUTABLE once published
    * (putIfAbsent slots, version-monotonic names), so the parsed form
    * is cached per log dir keyed by file name — repeat state() calls
    * skip the O(live-set) JSON parse entirely and pay only the
    * listing + suffix reads. A failed parse is never cached. One case
    * DOES produce a same-named, different-content checkpoint: a store
    * root deleted and recreated at the same path replays versions from
    * zero, so the deterministic `00000010.ckpt` name can reappear with
    * a different live set — the hit check therefore also compares the
    * checkpoint's (size, mtime) discriminator read fresh per call (one
    * stat, not a parse).
    */
  private val ckptCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long, Long, Ckpt)]

  /** Roots cached at once — a live set can be multi-MB, and a driver
    * touching many roots (or endless temp roots, as tests and probes
    * do) must not accumulate one forever per root; past the cap an
    * arbitrary other entry is evicted (refetch = one parse, the cold
    * cost this cache amortizes, never a correctness event).
    */
  private val CkptCacheRoots = 64

  private def readCkptCached(dir: Path, name: String): Ckpt = {
    val key = dir.toString
    val p = dir.resolve(name)
    val (sz, mt) = {
      val attrs = Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      // nanosecond mtime: group names are fixed-width UUIDs, so two
      // incarnations' checkpoints can tie on SIZE; millisecond mtime can
      // tie on a fast delete+recreate
      (attrs.size(),
        attrs.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS))
    }
    val hit = ckptCache.get(key)
    if (hit != null && hit._1 == name && hit._2 == sz && hit._3 == mt)
      hit._4
    else {
      val ck = readCkpt(p)
      if (ckptCache.size >= CkptCacheRoots) {
        val it = ckptCache.keys()
        var evicted = false
        while (!evicted && it.hasMoreElements) {
          val k = it.nextElement()
          if (k != key) { ckptCache.remove(k); evicted = true }
        }
      }
      ckptCache.put(key, (name, sz, mt, ck))
      ck
    }
  }

  /** The replayed table at one version: its live groups and its
    * logged schema (base64, "" before the first commit).
    */
  private case class Snap(live: Vector[String], schema: String) {
    def structType: StructType =
      if (schema.isEmpty) new StructType() else decodeSchema(schema)
  }

  private val EmptySnap = Snap(Vector.empty, "")

  private def snapOf(ck: Ckpt): Snap = Snap(ck.live, ck.schema)

  /** The shared replay fold — one rule for checkpointed and
    * from-scratch paths, so they cannot diverge. A record without a
    * schema adds no group (parse enforces it), so it keeps the prior one.
    */
  private def fold(start: Snap, commits: Seq[Commit]): Snap =
    commits.foldLeft(start) { (snap, c) =>
      Snap((if (c.action == "overwrite") Vector.empty
            else snap.live.filterNot(c.removes.contains)) ++ c.adds,
        if (c.schema.nonEmpty) c.schema else snap.schema)
    }

  /** The replay state the hot paths operate on: the newest checkpoint
    * (if any) plus only the commit records AFTER it — one dir listing,
    * O(interval) record reads per action instead of O(#commits).
    */
  private case class LogState(ckpt: Option[Ckpt], suffix: Seq[Commit]) {
    def lastVersion: Int =
      suffix.lastOption.map(_.version)
        .orElse(ckpt.map(_.version)).getOrElse(-1)
    def base: Snap = ckpt.fold(EmptySnap)(snapOf)
    def hasTag(tag: String): Boolean =
      ckpt.exists(_.tags.contains(tag)) || suffix.exists(_.tag == tag)
    def allTags: Set[String] =
      ckpt.fold(Set.empty[String])(_.tags) ++
        suffix.iterator.map(_.tag).filter(_.nonEmpty)

    /** The table at `asOf` (latest when None). A target before the
      * base checkpoint replays from the newest OLDER checkpoint (or
      * scratch) plus the retained records up to `asOf` — possible only
      * while [[vacuumLog]] has not pruned those records, in which case
      * the target is explicitly rejected.
      */
    def at(root: String, asOf: Option[Int]): Snap = {
      asOf.foreach { v =>
        require(v <= lastVersion,
          s"version $v does not exist (latest is $lastVersion)")
      }
      asOf match {
        case None => fold(base, suffix)
        case Some(v) if ckpt.forall(_.version <= v) =>
          fold(base, suffix.filter(_.version <= v))
        case Some(v) =>
          // the slow path: re-list for the newest checkpoint ≤ v and
          // fold the record range (base, v] — and REFUSE on any gap
          // (a pruned log must fail loudly, never replay a wrong set)
          val entries = listDir(commitsDir(root))
            .map(_.getFileName.toString)
          val base = entries.filter(_.endsWith(".ckpt"))
            .map(versionOfName).filter(_ <= v).sorted.lastOption
            .map(bv => readCkpt(commitsDir(root)
              .resolve(f"$bv%08d.ckpt")))
          val b0 = base.map(_.version).getOrElse(-1)
          val recs = entries.filter(_.endsWith(".json"))
            .filter { n =>
              val x = versionOfName(n); x > b0 && x <= v
            }.sorted
            .map(n => readRecord(commitsDir(root).resolve(n)))
          require(recs.map(_.version) == (b0 + 1 to v),
            s"version $v predates the retained commit log — its " +
              "records were pruned and the snapshot cannot be replayed")
          fold(base.fold(EmptySnap)(snapOf), recs)
      }
    }
  }

  private def versionOfName(name: String): Int = name.take(8).toInt

  private def state(root: String): LogState = {
    // a record listed here can vanish before its read when a
    // concurrent vacuumLog prunes behind a newer checkpoint; a fresh
    // listing then sees that newer checkpoint and no longer needs the
    // pruned record — so retry the WHOLE listing a few times before
    // letting the failure surface
    var attempts = 0
    while (true) {
      try {
        val entries = listDir(commitsDir(root)).map(_.getFileName.toString)
        val base = entries.filter(_.endsWith(".ckpt")).sorted.lastOption
          .map(n => readCkptCached(commitsDir(root), n))
        val minV = base.map(_.version).getOrElse(-1)
        val suffix = entries.filter(_.endsWith(".json"))
          .filter(versionOfName(_) > minV).sorted
          .map(n => readRecord(commitsDir(root).resolve(n)))
        return LogState(base, suffix)
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          attempts += 1
          if (attempts >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish a checkpoint alongside every CheckpointInterval-th
    * commit, derived from the pre-commit state `st` plus the commit
    * just landed (sound: we won slot `c.version`, so `st` — read when
    * every slot ≤ c.version-1 was already filled — plus `c` IS the
    * state at c.version). putIfAbsent makes racing checkpointers
    * harmless; a lost slot is someone else's identical checkpoint.
    */
  private def afterPublish(root: String, st: LogState, c: Commit,
      publisher: CommitPublisher): Unit =
    if (c.version > 0 && c.version % CheckpointInterval == 0) {
      val snap = fold(st.base, st.suffix :+ c)
      writeCkpt(commitsDir(root), publisher, Ckpt(c.version, snap.live,
        st.allTags ++ (if (c.tag.nonEmpty) Set(c.tag) else Set.empty),
        snap.schema))
    }

  /** The ONE primitive the commit protocol demands of storage:
    * put-if-absent of a fully-written record under a name — publish
    * succeeds iff the name did not exist, and a record is never
    * visible partially written. Everything else in the protocol
    * (optimistic retry, tag dedup, compaction conflict detection) is
    * layered on this seam, so porting the table format to an object
    * store means implementing exactly this trait over the store's
    * conditional put (S3 `If-None-Match: *`, GCS
    * `ifGenerationMatch=0`, ABFS ETag preconditions) — the commit
    * arithmetic above it does not change.
    */
  trait CommitPublisher {
    /** Atomically create `dir/name` with `json` iff absent; false =
      * the name exists (the slot race was lost).
      */
    def putIfAbsent(dir: Path, name: String, json: String): Boolean
  }

  /** POSIX publisher: write the record to a temp file, then hard-link
    * it to the final name — link(2) is atomic AND exclusive, and the
    * record is complete before it becomes visible. The default for
    * local/NFS-free filesystems.
    */
  object HardLinkPublisher extends CommitPublisher {
    def putIfAbsent(dir: Path, name: String, json: String): Boolean = {
      val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
      Files.writeString(tmp, json)
      try { Files.createLink(dir.resolve(name), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
      finally { Files.deleteIfExists(tmp); () }
    }
  }

  /** Conditional-put publisher in the OBJECT-STORE shape: one
    * create-exclusive write of the complete record — the local-FS
    * analog of a conditional PUT, which on a real object store is
    * content-atomic by construction (an object never exists half
    * uploaded). On a local FS the creation is exclusive
    * (CREATE_NEW) while content atomicity rests on the single
    * small write; production local tables therefore default to
    * [[HardLinkPublisher]], and this impl exists to pin the protocol
    * against the conditional-put contract an object-store binding
    * must honor (SnapshotStoreSpec runs the protocol suite over both).
    */
  object CreateNewPublisher extends CommitPublisher {
    def putIfAbsent(dir: Path, name: String, json: String): Boolean =
      try {
        Files.write(dir.resolve(name),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: FileAlreadyExistsException => false }
  }

  /** Lost version-slot races in this JVM, across every commit loop —
    * instrumentation for the contention probe (retries/commit is the
    * protocol's real cost under racing writers; nothing in the commit
    * arithmetic reads it).
    */
  private[graft] val casRetries = new java.util.concurrent.atomic.AtomicLong

  /** Atomic exclusive publish of version `v`; false = lost the race. */
  private def publish(root: String, v: Int, json: String,
      publisher: CommitPublisher): Boolean = {
    val dir = commitsDir(root)
    Files.createDirectories(dir)
    val won = publisher.putIfAbsent(dir, f"$v%08d.json", json)
    if (!won) casRetries.incrementAndGet()
    won
  }

  /** `body` with every Spark job it starts described `snapshot.<op>`
    * (see [[graft.JobDescription]]).
    */
  private def described[A](spark: SparkSession, op: String)(body: => A): A =
    graft.JobDescription.during(spark, s"snapshot.$op")(body)

  /** Delete `dir` and everything under it. */
  private def deleteTree(dir: Path): Unit = {
    val w = Files.walk(dir)
    val paths = try w.iterator.asScala.toVector finally w.close()
    paths.reverse.foreach(Files.deleteIfExists(_))
  }

  /** Write `df` as a new immutable data group; returns its name, the
    * schema its files carry and their row count. A `_stats.json`
    * sidecar records per-FILE per-numeric-column [min, max] plus the
    * group's file manifest for file-level pruning ([[readWhere]]) — the
    * underscore prefix keeps it invisible to the parquet reader, and
    * sitting INSIDE the group it shares the group's immutability and
    * vacuum lifetime.
    */
  private def writeGroup(
      df: DataFrame, root: String): (String, StructType, Long) = {
    val group = s"data/${UUID.randomUUID()}"
    df.write.mode("error").parquet(s"$root/$group")
    val (schema, rows) = sidecarsFor(df.sparkSession, root, Seq(group))
    (group, schema, rows)
  }

  /** Write the `_stats.json` sidecars for `groups` from the just-
    * written files' PARQUET FOOTERS, and return the union of the Spark
    * schemas those footers carry — the columns the commit adds to the
    * logged table schema — with their total row count. Driver-side
    * metadata reads, ZERO Spark jobs:
    * the footer already carries exact per-row-group min/max for every
    * numeric column Spark writes. Stats come from the FILES JUST
    * WRITTEN, never from re-running the input's lineage: a
    * nondeterministic input (sample, rand, source-that-moved) would
    * materialize one row set and stat another, and pruning on those
    * stats silently drops rows. This is the only stats producer.
    *
    * The sidecar holds per-file `file|col` [min, max] ranges plus the
    * `_files` MANIFEST of data-carrying files — [[readWhere]] addresses
    * kept files directly from it and never lists the data directory.
    * An empty group (an empty-batch append) records an empty manifest.
    */
  private def sidecarsFor(spark: SparkSession, root: String,
      groups: Seq[String]): (StructType, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    groups.foldLeft((new StructType(), 0L)) { case ((schema, rows), g) =>
      val dir = Paths.get(root, g)
      val stats = listDir(dir).map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith("."))
        .sorted
        .map(f => f -> footerStats(conf, dir.resolve(f)))
      // manifest = data-CARRYING files (a zero-row file holds nothing
      // a read could need)
      writeSidecar(root, g,
        stats.collect { case (f, st) if st.rows > 0 => f },
        stats.flatMap { case (f, st) =>
          st.ranges.map { case (c, lo, hi) => (s"$f|$c", lo, hi) }
        })
      (stats.foldLeft(schema)((s, fs) => widen(s, fs._2.schema)),
        rows + stats.map(_._2.rows).sum)
    }
  }

  /** One file's footer facts: row count, per-column [min, max], and
    * the Spark schema (nullable, as every parquet read sees it).
    */
  private case class FileStats(rows: Long,
      ranges: Seq[(String, Double, Double)], schema: StructType)

  /** One file's [[FileStats]] from its parquet footer. Stats are sound
    * or absent ("stats only ever EXCLUDE"): only signed INT32/INT64,
    * FLOAT and DOUBLE columns are bounded; decimal (unscaled encoding),
    * unsigned, string, date, timestamp and nested columns record no
    * entry, so a file is never pruned on them. Integral bounds widen
    * OUTWARD past 2^53 ([[widenLo]]/[[widenHi]]). A chunk without
    * usable bounds — no statistics, a NaN or infinite bound, or min/max
    * withheld (parquet withholds them for a float chunk holding NaN) — leaves
    * the column unbounded for the whole file, unless its null count
    * proves the chunk all-null, in which case it contributes nothing.
    */
  private def footerStats(
      conf: org.apache.hadoop.conf.Configuration, file: Path): FileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{
      DOUBLE, FLOAT, INT32, INT64}
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf))
    try {
      val meta = reader.getFooter
      val sparkSchema = meta.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      require(sparkSchema != null, s"$file carries no Spark schema")
      // classify top-level primitive columns: true integral, false
      // fractional, absent = not stat-eligible
      val classOf = meta.getFileMetaData.getSchema.getFields.asScala
        .filter(_.isPrimitive).flatMap { f =>
          val p = f.asPrimitiveType()
          (p.getLogicalTypeAnnotation, p.getPrimitiveTypeName) match {
            case (i: IntLogicalTypeAnnotation, INT32 | INT64) if i.isSigned =>
              Some(f.getName -> true)
            case (null, INT32 | INT64) => Some(f.getName -> true)
            case (null, FLOAT | DOUBLE) => Some(f.getName -> false)
            case _ => None
          }
        }.toMap
      var rows = 0L
      // per-column fold state: (lo, hi) as Long for integral columns,
      // Double for fractional; `dead` = a chunk without usable bounds
      // was seen — the column records no entry
      val loL = scala.collection.mutable.HashMap.empty[String, Long]
      val hiL = scala.collection.mutable.HashMap.empty[String, Long]
      val loD = scala.collection.mutable.HashMap.empty[String, Double]
      val hiD = scala.collection.mutable.HashMap.empty[String, Double]
      val dead = scala.collection.mutable.HashSet.empty[String]
      meta.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          classOf.get(name).foreach { integral =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) {
              val allNull = st != null && st.isNumNullsSet &&
                st.getNumNulls == c.getValueCount
              if (!allNull) dead += name
            } else if (integral) {
              val mn = st.genericGetMin.asInstanceOf[Number].longValue
              val mx = st.genericGetMax.asInstanceOf[Number].longValue
              loL(name) = loL.get(name).fold(mn)(math.min(_, mn))
              hiL(name) = hiL.get(name).fold(mx)(math.max(_, mx))
            } else {
              val mn = st.genericGetMin.asInstanceOf[Number].doubleValue
              val mx = st.genericGetMax.asInstanceOf[Number].doubleValue
              // JSON has no token for a NaN or infinite bound
              if (!mn.isFinite || !mx.isFinite) dead += name
              else {
                loD(name) = loD.get(name).fold(mn)(math.min(_, mn))
                hiD(name) = hiD.get(name).fold(mx)(math.max(_, mx))
              }
            }
          }
        }
      }
      val ranges = classOf.toSeq.sortBy(_._1).flatMap {
        case (name, _) if dead(name) => None
        case (name, true) if loL.contains(name) =>
          Some((name, widenLo(loL(name)), widenHi(hiL(name))))
        case (name, false) if loD.contains(name) =>
          Some((name, loD(name), hiD(name)))
        case _ => None // all-null column: no entry, file never pruned
      }
      FileStats(rows, ranges,
        nullable(DataType.fromJson(sparkSchema)).asInstanceOf[StructType])
    } finally reader.close()
  }

  /** `t` with every nested field, element and value nullable — the
    * shape a parquet read gives any written schema.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** `cur` plus the columns of `add` it lacks, in `add`'s order — the
    * add-column rule's schema arithmetic (a retype never reaches here:
    * [[checkAppendSchema]] rejects it, and overwrite logs its own).
    */
  private def widen(cur: StructType, add: StructType): StructType =
    StructType(cur.fields ++
      add.fields.filterNot(f => cur.fieldNames.contains(f.name)))

  /** The ONE sidecar serializer — shared by [[writeGroup]] (fresh
    * stats from just-written files) and [[linkGroup]] (entries carried
    * forward for re-linked files), so the format cannot diverge.
    */
  private def writeSidecar(root: String, group: String,
      files: Seq[String], ranges: Seq[(String, Double, Double)]): Unit = {
    Files.writeString(Paths.get(root, group, "_stats.json"),
      JsonMethods.compact(JObject(("_files" -> jsonStrings(files.sorted)) ::
        ranges.map { case (k, lo, hi) =>
          k -> JArray(List(JDouble(lo), JDouble(hi)))
        }.toList)))
    ()
  }

  /** Integral bounds convert to double OUTWARD: a blind cast rounds
    * |values| > 2^53 to nearest, so a stored min could round UP past
    * the true value and pruning would exclude a file that holds
    * matching rows — silent row loss.
    */
  private val ExactLongBound = 1L << 53

  private def widenLo(v: Long): Double =
    if (math.abs(v) <= ExactLongBound) v.toDouble
    else Math.nextDown(v.toDouble)

  private def widenHi(v: Long): Double =
    if (math.abs(v) <= ExactLongBound) v.toDouble
    else Math.nextUp(v.toDouble)

  /** A group's parsed stats sidecar: (file manifest, ranges keyed
    * `file|col`). A missing column or all-null file ⇒ no entry, and
    * the reader must KEEP the file (stats only ever EXCLUDE).
    */
  private def readSidecar(root: String, group: String)
      : (Seq[String], Map[String, (Double, Double)]) = {
    val f = new Fields(s"stats sidecar of $group",
      Files.readString(Paths.get(root, group, "_stats.json")))
    (f.strings("_files"), f.ranges)
  }

  /** Read `paths` through a logged schema: parquet null-fills the
    * columns a file lacks, so no footer is inferred at read time and
    * no projection re-aligns an evolved table. No paths (pruning kept
    * no file, or every commit so far was a tag-only empty batch) read
    * as an empty frame of that schema.
    */
  private def scan(spark: SparkSession, schema: StructType,
      paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(paths: _*)

  /** Snapshot read with FILE-LEVEL pruning on a numeric range
    * predicate — the file-skipping half of a table format: data files
    * whose [min, max] sidecar range cannot intersect [lo, hi] are
    * never listed in the scan, so a time-partitioned, key-clustered,
    * or clustered-compacted table pays only for the files that can
    * match. Kept files are addressed through the sidecar MANIFEST
    * (no data-directory listing). The predicate is ALSO applied as an
    * ordinary filter (pruning is an optimization, never the
    * correctness boundary — files without stats always scan).
    */
  def readWhere(spark: SparkSession, root: String, column: String,
      lo: Double, hi: Double, asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = readable(root, state(root).at(root, asOf), asOf)
    val scanPaths = snap.live.flatMap { g =>
      val (files, ranges) = readSidecar(root, g)
      files.filter(f => rangeKeeps(ranges.get(s"$f|$column"), lo, hi))
        .map(f => s"$root/$g/$f")
    }
    // the snapshot's logged schema, not the kept files', shapes the
    // frame: pruning may keep only pre-evolution files (or none), and a
    // data-dependent schema would make the same query's select succeed
    // or throw by range. An evolved `column` reads null from old files,
    // and the range predicate drops those rows.
    scan(spark, snap.structType, scanPaths)
      .where(col(column) >= lo && col(column) <= hi)
  }

  private def commitLoop(root: String, action: String, adds: Seq[String],
      written: StructType, publisher: CommitPublisher): Int =
    commitLoopDedup(root, action, adds, written, "", dedupOnTag = false,
      publisher).get

  /** The CAS retry loop. With `dedupOnTag` the tag is re-checked
    * against the FRESHLY READ log inside every iteration — atomic with
    * the version-slot CAS, so two concurrent commits under one tag
    * (a zombie streaming driver replaying a micro-batch during
    * failover) cannot both land: whichever loses the version race
    * re-reads the log, finds the winner's tag, and returns None
    * instead of retrying at v+1. Without this the dedup would rest
    * solely on the documented single-writer-per-tag contract — exactly
    * the contract a failover zombie violates.
    *
    * `written` = the schema the added groups' files carry: an
    * overwrite logs it alone, an append widens the schema of the
    * version it lands on with it.
    */
  private def commitLoopDedup(root: String, action: String,
      adds: Seq[String], written: StructType, tag: String,
      dedupOnTag: Boolean, publisher: CommitPublisher): Option[Int] = {
    while (true) {
      val st = state(root)
      if (dedupOnTag && st.hasTag(tag)) return None
      val v = st.lastVersion + 1
      val cur = st.at(root, None)
      val c =
        if (action == "overwrite")
          Commit(v, action, adds, cur.live, tag, encodeSchema(written))
        else Commit(v, action, adds, Nil, tag,
          encodeSchema(widen(cur.structType, written)))
      if (publish(root, v, render(c), publisher)) {
        afterPublish(root, st, c, publisher)
        return Some(v)
      }
      // on a lost race the data group is already safely invisible-
      // or-added; only the log position moves — re-read and retry
    }
    None // unreachable
  }

  /** Append-time schema control — the lakehouse add-column rule:
    * an append may ADD columns (they read back null-filled for groups
    * written before the addition), but every existing table column
    * must arrive with its (name, type) intact — a missing column is a
    * DROP and a retyped column would make the parquet schema union
    * fail or corrupt file-by-file, so both are rejected up front;
    * destructive schema changes go through overwrite, exactly as in
    * the production formats. The table schema is the one the log
    * recorded (no data file is read); types compare as a parquet read
    * sees them, all nullable. The check is advisory under races (it
    * runs before the CAS); single-writer-per-table appends — the
    * common case — are fully protected.
    */
  private def checkAppendSchema(df: DataFrame, cur: StructType): Unit = {
    val incoming =
      df.schema.fields.map(f => f.name -> nullable(f.dataType)).toMap
    cur.fields.foreach { f =>
        require(incoming.contains(f.name),
          s"append drops column ${f.name}; dropping columns goes " +
            "through overwrite")
        require(incoming(f.name) == f.dataType,
          s"append retypes column ${f.name} from ${f.dataType} to " +
            s"${incoming(f.name)}; type changes go through overwrite")
    }
  }

  /** The table schema the log recorded at `asOf` (latest when None);
    * empty before the first commit.
    */
  private[graft] def schemaAt(root: String,
      asOf: Option[Int] = None): StructType =
    state(root).at(root, asOf).structType

  /** Append `df` as a new commit; returns the committed version. */
  def append(df: DataFrame, root: String,
      publisher: CommitPublisher = HardLinkPublisher): Int =
    described(df.sparkSession, "append")(appendGroup(df, root, publisher))

  private def appendGroup(df: DataFrame, root: String,
      publisher: CommitPublisher): Int = {
    checkAppendSchema(df, schemaAt(root))
    val (group, written, _) = writeGroup(df, root)
    commitLoop(root, "append", Seq(group), written, publisher)
  }

  /** Replace the table contents with `df`; returns the version. */
  def overwrite(df: DataFrame, root: String,
      publisher: CommitPublisher = HardLinkPublisher): Int =
    described(df.sparkSession, "overwrite") {
      val (group, written, _) = writeGroup(df, root)
      commitLoop(root, "overwrite", Seq(group), written, publisher)
    }

  /** Append with the batch range-partitioned on `clusterCol` into
    * `nGroups` SEPARATE data groups in one commit — the write-side
    * half of stats pruning: [[readWhere]] skips whole groups only when
    * their [min, max] ranges are TIGHT, and an unclustered append
    * gives every group the full value range (prunes nothing). Range
    * partitioning (the [[Layout]] z-order discipline applied at the
    * commit boundary) makes the sidecar ranges disjoint by
    * construction, so a point/range read later touches ~1/nGroups of
    * the commit. One commit record — atomicity is unchanged.
    */
  def appendClustered(df: DataFrame, root: String, clusterCol: String,
      nGroups: Int,
      publisher: CommitPublisher = HardLinkPublisher): Int =
    described(df.sparkSession, "appendClustered")(
      clusteredCommit(df, root, clusterCol, nGroups, publisher))

  private def clusteredCommit(df: DataFrame, root: String,
      clusterCol: String, nGroups: Int, publisher: CommitPublisher): Int = {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    checkAppendSchema(df, schemaAt(root))
    // collision-proof helper column: silently replacing a user column
    // named like it would drop real data past the schema check
    val grp = s"__grp_${UUID.randomUUID().toString.take(8)}"
    // ONE partitionBy write lands every range partition as its own
    // grp=<i> subdirectory of a staging dir under the table root
    // (r16). The r15 shape paid one persist+max probe plus nGroups
    // SEPARATE write jobs — ~10 driver-sequenced actions per clustered
    // commit where this pays the range sampling pass + one write; the
    // subdirectories then become the commit's data groups by atomic
    // same-filesystem renames, and emptiness falls out of which
    // partition dirs exist. Identical layout: each task holds exactly
    // one grp value, so every group is the same single sorted file the
    // per-group writes produced (partitionBy strips grp from the file,
    // as drop(grp) did). Staging lives INSIDE root so an abandoned
    // write is ordinary uncommitted garbage, never torn data.
    val staging = Paths.get(root, s".inflight-${UUID.randomUUID()}")
    df.repartitionByRange(nGroups, col(clusterCol))
      .withColumn(grp, spark_partition_id())
      .write.partitionBy(grp).mode("error").parquet(staging.toString)
    val parts = listDir(staging)
      .filter(_.getFileName.toString.startsWith(s"$grp="))
      .sortBy(_.getFileName.toString.drop(grp.length + 1).toInt)
    if (parts.isEmpty) {
      // an empty batch has nothing to cluster — the plain append path
      // handles it
      deleteTree(staging)
      return appendGroup(df, root, publisher)
    }
    Files.createDirectories(Paths.get(root, "data"))
    val groups = parts.map { p =>
      val group = s"data/${UUID.randomUUID()}"
      Files.move(p, Paths.get(root, group))
      group
    }
    deleteTree(staging)
    commitLoop(root, "append", groups,
      sidecarsFor(df.sparkSession, root, groups)._1, publisher)
  }

  /** Idempotent tagged append — the exactly-once sink primitive for
    * streaming ingest: a micro-batch commits under its batchId tag,
    * and a restart-replayed batch (same tag already in the log) is a
    * no-op, so the table holds each batch's rows exactly once however
    * often the engine re-delivers it. Returns the committed version,
    * None when the tag had already landed. A frame without rows (a
    * no-data micro-batch) commits its tag and schema with no data
    * group. Single-writer-per-tag is the streaming contract (one query
    * owns the checkpoint); the version-slot CAS still serializes
    * cross-writer commits.
    */
  def appendOnce(df: DataFrame, root: String, tag: String,
      publisher: CommitPublisher = HardLinkPublisher): Option[Int] = {
    // a whitelist keeps tags plain names: the batch ids a stream
    // replays, never text that needs escaping or reads as a path
    require(tag.nonEmpty && tag.matches("[A-Za-z0-9._-]+"),
      s"tag must be non-empty [A-Za-z0-9._-]+, got '$tag'")
    // fast path: a replayed tag skips the data write entirely. The
    // AUTHORITATIVE check is the in-loop one (dedupOnTag) — a racing
    // duplicate that passes here merely writes an orphaned group
    // (vacuum's job) and still lands exactly once.
    val st = state(root)
    if (st.hasTag(tag)) None
    else described(df.sparkSession, "appendOnce") {
      checkAppendSchema(df, st.at(root, None).structType)
      val (group, written, rows) = writeGroup(df, root)
      // a no-data batch (a streaming query runs one after its watermark
      // moves) commits its tag alone: the tag must still land for a
      // replay to dedup against, and the live set gains no zero-row
      // group. The row count is the footers' — no extra job.
      val adds =
        if (rows > 0) Seq(group)
        else { deleteTree(Paths.get(root, group)); Nil }
      commitLoopDedup(root, "append", adds, written, tag,
        dedupOnTag = true, publisher)
    }
  }

  /** The vacuumed-version contract, shared by every scan: an
    * explicit error, never a raw path-does-not-exist from the scan.
    */
  private def requirePresent(root: String, groups: Seq[String]): Unit =
    groups.foreach { g =>
      require(Files.isDirectory(Paths.get(root, g)),
        s"data group $g was vacuumed; version is no longer readable")
    }

  /** `snap` once the read contract holds: it is a committed version
    * (no commits yet, or time travel to before the first commit, is an
    * error; a version whose commits were all tag-only empty batches
    * has a logged schema and no live group, and reads empty), and none
    * of its live data was vacuumed.
    */
  private def readable(root: String, snap: Snap, asOf: Option[Int]): Snap = {
    require(snap.schema.nonEmpty,
      s"nothing committed at ${asOf.fold("latest")(v => s"version $v")} " +
        s"in $root")
    requirePresent(root, snap.live)
    snap
  }

  /** Snapshot read at `asOf` (latest when None), through the schema
    * logged at that version: live groups that straddle an add-column
    * boundary read the column null-filled for pre-evolution groups,
    * and a time travel BEFORE the boundary sees the old schema —
    * evolution is invisible to history.
    */
  def read(spark: SparkSession, root: String,
      asOf: Option[Int] = None): DataFrame = {
    val snap = readable(root, state(root).at(root, asOf), asOf)
    scan(spark, snap.structType, snap.live.map(g => s"$root/$g"))
  }

  /** The DESCRIBE HISTORY analog: every commit's (version, action,
    * groups added, groups removed) — the audit view that makes
    * copy-on-write costs inspectable (an upsert that removed 1 of 32
    * groups rewrote 1/32 of the table; one that removed all of them
    * was a full rewrite).
    */
  def describeHistory(root: String): Seq[(Int, String, Int, Int)] =
    log(root).map(c => (c.version, c.action, c.adds.size, c.removes.size))

  /** (version, action) history, oldest first. */
  def history(root: String): Seq[(Int, String)] =
    log(root).map(c => (c.version, c.action))

  /** Compact the table: rewrite the version-v content as ONE data
    * group and commit it as an overwrite AT SLOT v+1 ONLY — true
    * optimistic concurrency with conflict detection, not the blind
    * retry of the ordinary commit loop: a plain `overwrite(read(...))`
    * would lose a concurrent append (its group lands in the remove set
    * while its rows are absent from the rewritten content), so when
    * the v+1 slot is taken the whole rewrite is discarded and redone
    * against the moved table; the orphaned group is unreferenced by
    * any commit and the next vacuum collects it. Content-identical at
    * the committed version (CDC across it is empty); prior versions
    * stay time-travelable until vacuum. The small-files answer for
    * long append histories: read cost tracks group count, compaction
    * resets it to 1.
    */
  def compact(spark: SparkSession, root: String,
      publisher: CommitPublisher = HardLinkPublisher,
      clusterCol: String = null, nFiles: Int = 0): Int =
    described(spark, "compact")(
      compactCommit(spark, root, publisher, clusterCol, nFiles))

  private def compactCommit(spark: SparkSession, root: String,
      publisher: CommitPublisher, clusterCol: String, nFiles: Int): Int = {
    require(clusterCol == null || nFiles > 0,
      "clustered compaction needs nFiles > 0 — a clusterCol with the " +
        "default nFiles would funnel the table through ONE partition " +
        "and erase the per-file ranges the parameter exists to create")
    var committed = -1
    // a compaction commit is a REPLACE of exactly the groups it
    // rewrote ("compact": removes = sources, adds = the rewrite) —
    // NOT an overwrite of whatever is live at commit time. That makes
    // compaction COMMUTE with concurrent appends: an append's group is
    // untouched by the rewrite, so losing the version slot to one
    // costs a re-publish of the same tiny record at the next slot,
    // with the data rewrite reused. Only a rival that removed one of
    // our source groups (another compactor, an overwrite) invalidates
    // the rewrite and forces a re-read — the same conflict rule the
    // production formats apply to OPTIMIZE vs ingest.
    var sources: Seq[String] = Nil
    var group: String = null
    while (committed < 0) {
      val st = state(root)
      val v = st.lastVersion
      if (v < 0) throw new IllegalArgumentException(
        s"nothing to compact in $root")
      val snap = st.at(root, None)
      val live = snap.live
      if (group == null || !sources.forall(live.contains)) {
        // (re)build the rewrite from the current snapshot. Clustered
        // compaction range-partitions it so the ONE resulting group's
        // FILES carry disjoint [min,max] sidecar ranges — per-file
        // pruning then survives compaction (an unclustered rewrite
        // gives every file the full range and prunes nothing). An
        // abandoned earlier rewrite is an unreferenced group —
        // vacuum's job, same as any lost appender's.
        val content = read(spark, root, Some(v))
        val rewrite =
          if (clusterCol == null) content
          else content.repartitionByRange(nFiles,
            org.apache.spark.sql.functions.col(clusterCol))
        group = writeGroup(rewrite, root)._1
        sources = live
      } else {
        // the rewrite is REUSED across CAS retries (the commuting-
        // append win) — refresh its mtime each retry so a long
        // contention or stall window can never age the still-
        // unreferenced group past VacuumGraceMs and let a concurrent
        // vacuum delete it before the commit referencing it lands
        // (every other writer's write-to-publish gap is single-shot
        // and bounded; only this reuse loop could grow it unboundedly).
        // If a vacuum already won that race, the refresh throws —
        // treat it as "rewrite lost" and rebuild rather than
        // publishing a commit that references a deleted group.
        try Files.setLastModifiedTime(Paths.get(root, group),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
        catch {
          case _: java.nio.file.NoSuchFileException => group = null
        }
      }
      if (group != null) { // null = lost rewrite; loop rebuilds
        // the schema of the version it lands on: a commuting append
        // may have widened it since the rewrite was read
        val c = Commit(v + 1, "compact", Seq(group), sources,
          schema = snap.schema)
        if (publish(root, v + 1, render(c), publisher)) {
          afterPublish(root, st, c, publisher)
          committed = v + 1
        }
      }
    }
    committed
  }

  /** The ONE keep/exclude rule stats pruning rests on ("stats only
    * ever EXCLUDE"): a missing range keeps; a present range keeps iff
    * it can intersect [lo, hi]. Shared by read-side pruning
    * ([[readWhere]]) and write-side touch sets ([[upsert]] /
    * [[deleteWhere]]) so the two semantics can never diverge.
    */
  private def rangeKeeps(
      r: Option[(Double, Double)], lo: Double, hi: Double): Boolean =
    // a NaN bound makes every comparison false — which would silently
    // EXCLUDE a file that may contain matches; keep instead
    r.forall { case (mn, mx) =>
      mn.isNaN || mx.isNaN || (mx >= lo && mn <= hi) }

  /** One touched group's copy-on-write plan: `hit` = paths of the
    * files that may contain matches, `keep` = file names PROVABLY
    * clear of [lo, hi] to carry forward without rewriting, plus the
    * parsed ranges their new sidecar needs. Untouched groups (no hit)
    * produce no entry at all.
    */
  private case class Touch(group: String, hit: Seq[String],
      keep: Seq[String], ranges: Map[String, (Double, Double)])

  private def touchPlan(root: String, live: Seq[String], column: String,
      lo: Double, hi: Double): Seq[Touch] =
    live.flatMap { g =>
      val (files, ranges) = readSidecar(root, g)
      val (hit, keep) = files.partition(f =>
        rangeKeeps(ranges.get(s"$f|$column"), lo, hi))
      if (hit.isEmpty) None
      else Some(Touch(g, hit.map(f => s"$root/$g/$f"), keep, ranges))
    }

  /** Interval cap for [[refineTouch]]'s nested-loop pricing join. */
  private val RefineCap = 8192

  /** Tighten the hull-based touch plan per FILE against the batch's
    * actual KEY SET. The [kLo, kHi] hull is sound but coarse in
    * exactly the common MERGE shape — a few updates plus an insert
    * tail at the end of the key space hulls across the WHOLE table
    * and would rewrite everything, while its keys actually land in
    * ~2 files. One broadcast interval join prices every hull-hit
    * file's [mn, mx] against the real keys; files no key lands in
    * move to the re-link side, and groups with no remaining hit drop
    * out of the plan entirely. Files without a range entry must stay
    * hit — no stats, no refinement. Skipped above [[RefineCap]]
    * intervals: the join is batch × intervals nested-loop, and past
    * that size the hull plan is the cheaper arithmetic.
    */
  private def refineTouch(b: DataFrame, keyCol: String, root: String,
      plan: Seq[Touch]): Seq[Touch] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val spark = b.sparkSession
    import spark.implicits._
    def nameOf(t: Touch, path: String): String =
      path.drop(s"$root/${t.group}/".length)
    val iv = plan.zipWithIndex.flatMap { case (t, gi) =>
      t.hit.flatMap { path =>
        val f = nameOf(t, path)
        t.ranges.get(s"$f|$keyCol")
          .map { case (mn, mx) => (gi, f, mn, mx) }
      }
    }
    if (iv.isEmpty || iv.size > RefineCap) return plan
    val hitSet = b.select(col(keyCol).cast("double").as("k"))
      .join(broadcast(iv.toDF("gi", "f", "mn", "mx")),
        col("k") >= col("mn") && col("k") <= col("mx"))
      .select("gi", "f").distinct().collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    plan.zipWithIndex.flatMap { case (t, gi) =>
      val (hitF, clear) = t.hit.partition { path =>
        val f = nameOf(t, path)
        !t.ranges.contains(s"$f|$keyCol") || hitSet((gi, f))
      }
      if (hitF.isEmpty) None
      else Some(Touch(t.group, hitF,
        t.keep ++ clear.map(nameOf(t, _)), t.ranges))
    }
  }

  /** Hard-link a rewritten group's provably-clear files into a NEW
    * group, carrying their sidecar entries — the O(#files) keep path
    * of FILE-granular copy-on-write. This is what keeps a clustered-
    * compacted table (ONE group, disjoint-range files) paying ~1 file
    * of rewrite for a narrow upsert/delete instead of the whole
    * group: matched files rewrite, clear files re-link. link(2) is
    * the local-FS binding; an object-store port would use server-side
    * copy behind the same kind of seam as [[CommitPublisher]]. Links
    * are refcounted, so vacuuming either group later never corrupts
    * the other.
    */
  private def linkGroup(root: String, srcGroup: String,
      files: Seq[String], ranges: Map[String, (Double, Double)]): String = {
    val group = s"data/${UUID.randomUUID()}"
    Files.createDirectories(Paths.get(root, group))
    files.foreach(f => Files.createLink(
      Paths.get(root, group, f), Paths.get(root, srcGroup, f)))
    val kept = files.toSet
    // keys are "file|col"; parquet part names never contain '|', so
    // the FIRST bar ends the file name even if the column has one
    val carried = ranges.toSeq.collect {
      case (k, (mn, mx))
        if k.indexOf('|') > 0 && kept.contains(k.take(k.indexOf('|'))) =>
        (k, mn, mx)
    }
    writeSidecar(root, group, files, carried)
    group
  }

  /** Keyed MERGE (upsert): batch rows REPLACE live rows with equal
    * `keyCol`, unmatched batch rows are inserts — one commit, atomic.
    * Copy-on-write at FILE granularity with a stats-pruned touch set:
    * only files whose [min, max] on `keyCol` can intersect the
    * batch's key range are read and rewritten (their survivors — the
    * left-anti against batch keys — land in ONE new group with the
    * batch); a touched group's provably-clear files re-LINK forward
    * ([[linkGroup]]) and untouched groups keep everything. Both a
    * key-clustered table (appendClustered) and a clustered-COMPACTED
    * one (one group, disjoint-range files) therefore pay ~1-of-N
    * rewrite cost for a narrow-key batch — the production MERGE
    * shape.
    *
    * Preconditions: batch keys must be UNIQUE (two batch rows under
    * one key have no defined winner — rejected), and the batch obeys
    * the append evolution lane (may ADD columns — survivors from
    * pre-evolution groups read null-filled; drops/retypes rejected).
    *
    * Concurrency: SERIALIZABLE via recompute — a lost version-slot
    * race rebuilds from the new head (a rival commit may have added
    * or changed matching keys, so unlike [[compact]] the rewrite is
    * never reused). An upsert into an empty table is the batch as
    * version 0.
    */
  def upsert(spark: SparkSession, batch: DataFrame, root: String,
      keyCol: String,
      publisher: CommitPublisher = HardLinkPublisher): Int =
    described(spark, "upsert")(
      upsertCommit(spark, batch, root, keyCol, publisher))

  private def upsertCommit(spark: SparkSession, batch: DataFrame,
      root: String, keyCol: String, publisher: CommitPublisher): Int = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}
    val cur = schemaAt(root)
    checkAppendSchema(batch, cur)
    // the key must already exist in the table: keying on a column the
    // batch is ADDING (legal for the evolution lane otherwise) would
    // read survivors that cannot resolve it — fail clearly up front
    // instead of with a mid-commit AnalysisException
    require(cur.isEmpty || cur.fieldNames.contains(keyCol),
      s"upsert key '$keyCol' does not exist in the table schema " +
        s"(${cur.fieldNames.mkString(", ")}) — add the column via a " +
        "plain append before keying on it")
    val b = batch.persist()
    try {
      val stats = b.agg(count(lit(1)), countDistinct(col(keyCol)),
        count(col(keyCol)),
        min(col(keyCol)).cast("double"),
        max(col(keyCol)).cast("double")).head()
      val nRows = stats.getLong(0)
      require(stats.getLong(2) == nRows,
        s"upsert batch has ${nRows - stats.getLong(2)} NULL $keyCol " +
          "keys — a NULL key equals nothing, so it can never match a " +
          "live row and has no MERGE semantics; filter or key those " +
          "rows first")
      require(stats.getLong(1) == nRows,
        s"upsert batch has ${nRows - stats.getLong(1)} " +
          s"duplicate $keyCol keys — two rows under one key have no " +
          "defined winner; pre-aggregate the batch")
      // an empty batch matches nothing and inserts nothing — a no-op,
      // not a commit (and on a stats-less key column the touch-all
      // fallback would otherwise rewrite the whole table for zero
      // row changes). Returns the current version, -1 on an empty
      // table.
      if (nRows == 0L)
        return state(root).lastVersion
      // widen OUTWARD so the touch test stays sound against the
      // outward-widened sidecar bounds; a non-numeric / all-null /
      // NaN-containing key range degrades to touch-everything, never
      // skip-something (NaN poisons comparisons — every range test
      // would be false and matched keys would silently DUPLICATE)
      val (kLo, kHi) =
        if (stats.isNullAt(3) || stats.isNullAt(4) ||
          stats.getDouble(3).isNaN || stats.getDouble(4).isNaN)
          (Double.NegativeInfinity, Double.PositiveInfinity)
        else (Math.nextDown(stats.getDouble(3)),
          Math.nextUp(stats.getDouble(4)))
      var committed = -1
      while (committed < 0) {
        val st = state(root)
        val v = st.lastVersion
        val snap = st.at(root, None)
        requirePresent(root, snap.live)
        val plan = refineTouch(b, keyCol, root,
          touchPlan(root, snap.live, keyCol, kLo, kHi))
        val (group, written, _) =
          if (plan.isEmpty) writeGroup(b, root)
          else {
            // the hit scan reads through the logged schema: when every
            // hit file predates an add-column evolution of keyCol, the
            // column reads null and those survivors simply never match
            // (null equals nothing)
            val survivors = scan(spark, snap.structType, plan.flatMap(_.hit))
              .join(b.select(col(keyCol)), Seq(keyCol), "left_anti")
            // allowMissingColumns: the batch may be post-evolution
            // wider or narrower than the survivors — null-fill, exactly
            // as a read across the boundary would
            writeGroup(
              survivors.unionByName(b, allowMissingColumns = true), root)
          }
        // provably-clear files of touched groups re-LINK instead of
        // rewriting (file-granular copy-on-write — see [[linkGroup]])
        val adds = group +: plan.filter(_.keep.nonEmpty)
          .map(t => linkGroup(root, t.group, t.keep, t.ranges))
        val c = Commit(v + 1, "upsert", adds, plan.map(_.group),
          schema = encodeSchema(widen(snap.structType, written)))
        if (publish(root, v + 1, render(c), publisher)) {
          afterPublish(root, st, c, publisher)
          committed = v + 1
        }
        // lost race: full recompute from the new head — the rival may
        // have written matching keys, so the rewrite is stale by
        // definition (serializable MERGE, the production rule);
        // abandoned adds are unreferenced groups, vacuum's job
      }
      committed
    } finally { b.unpersist(); () }
  }

  /** Predicate DELETE over a numeric range ([[readWhere]]'s
    * vocabulary): rows with `column` in [lo, hi] are removed in one
    * atomic commit. Same stats-pruned group-granular copy-on-write as
    * [[upsert]] — untouched groups are never read, so deleting a
    * narrow key range from a clustered table rewrites ~1 of N groups.
    * Rows where `column` IS NULL never match a range predicate and
    * always survive (the SQL DELETE rule). A delete touching nothing
    * is a NO-OP: returns the current version, no commit. Serializable
    * via recompute, like upsert.
    */
  def deleteWhere(spark: SparkSession, root: String, column: String,
      lo: Double, hi: Double,
      publisher: CommitPublisher = HardLinkPublisher): Int =
    described(spark, "deleteWhere")(
      deleteCommit(spark, root, column, lo, hi, publisher))

  private def deleteCommit(spark: SparkSession, root: String,
      column: String, lo: Double, hi: Double,
      publisher: CommitPublisher): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    var committed = -1
    while (committed < 0) {
      val st = state(root)
      val v = st.lastVersion
      if (v < 0) throw new IllegalArgumentException(
        s"nothing to delete from in $root")
      val snap = st.at(root, None)
      requirePresent(root, snap.live)
      val plan = touchPlan(root, snap.live, column, lo, hi)
      if (plan.isEmpty) return v
      // the logged schema again (see upsert): an evolved `column`
      // absent from every hit file reads null, and null rows survive a
      // range DELETE by the SQL rule below
      val survivors = scan(spark, snap.structType, plan.flatMap(_.hit))
        // coalesce(false): a NULL comparison must KEEP the row, and
        // bare not(null) would drop it
        .where(not(coalesce(
          col(column) >= lo && col(column) <= hi, lit(false))))
      val adds = writeGroup(survivors, root)._1 +:
        plan.filter(_.keep.nonEmpty)
          .map(t => linkGroup(root, t.group, t.keep, t.ranges))
      val c = Commit(v + 1, "delete", adds, plan.map(_.group),
        schema = snap.schema)
      if (publish(root, v + 1, render(c), publisher)) {
        afterPublish(root, st, c, publisher)
        committed = v + 1
      }
    }
    committed
  }

  /** Row-level change feed between two versions (the Delta CDF
    * analog, derived rather than stored): rows in `to` but not `from`
    * marked `insert`, rows in `from` but not `to` marked `delete` —
    * set semantics over whole rows via two anti-joins. Scale shape:
    * for append-only histories the GROUP lists already tell which
    * files are new, so the insert side could scan only added groups
    * (the log makes that optimization available); the general
    * overwrite-crossing diff is what this computes, and it shuffles
    * only the two snapshots being compared.
    */
  def changes(spark: SparkSession, root: String,
      fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val st = state(root)
    val before = readable(root, st.at(root, Some(fromV)), Some(fromV))
    val after = readable(root, st.at(root, Some(toV)), Some(toV))
    // both sides read through the UNION of the two logged schemas:
    // across an add-column boundary the older side null-fills the new
    // column (the shape the post-boundary read gives old rows), so the
    // whole-row set semantics keep working and an unchanged old row
    // does NOT show up as delete+insert merely because the schema grew
    val to = after.structType
    val union = widen(before.structType, to)
    // a retype across an OVERWRITE boundary leaves one name with two
    // types — whole-row diff semantics are undefined there; fail loudly
    val retyped = to.filter(f => union(f.name).dataType != f.dataType)
    require(retyped.isEmpty, "cannot diff across a column retype: " +
      retyped.map(f => s"${f.name} ${union(f.name).dataType} -> " +
        f.dataType).mkString(", "))
    def side(snap: Snap) = scan(spark, union, snap.live.map(g => s"$root/$g"))
    val b = side(before)
    val a = side(after)
    a.exceptAll(b).withColumn("_change", lit("insert"))
      .unionByName(
        b.exceptAll(a).withColumn("_change", lit("delete")))
  }

  /** Delete data groups unreferenced by the last `keep` versions'
    * live sets; returns the number of groups removed. Commit records
    * are never deleted (history stays enumerable; vacuumed versions
    * fail at read with an explicit error).
    */
  /** Default vacuum retention grace: an unreferenced group younger
    * than this is SPARED, because it may belong to an in-flight commit
    * — writeGroup finishes before publish, so a concurrent vacuum with
    * no grace window would delete the group out from under the commit
    * and the published version would reference a missing directory
    * (the exact race Delta's retention window exists for). 10 minutes
    * bounds any sane write-to-publish gap; tests pass `minAgeMs = 0`.
    */
  val VacuumGraceMs: Long = 10 * 60 * 1000L

  def vacuum(root: String, keep: Int = 2,
      minAgeMs: Long = VacuumGraceMs): Int = {
    // the same guard vacuumLog has: keep = 0 would compute an EMPTY
    // retained range, reference nothing, and delete every data group
    // including the current head's — total data loss from a parameter
    // misuse, not a meaningful request
    require(keep >= 1, "must retain at least the latest version")
    val st = state(root)
    val retained = (st.lastVersion - keep + 1 to st.lastVersion)
      .filter(_ >= 0)
    // a retained version whose records [[vacuumLog]] already pruned is
    // unreadable — it can contribute no reachable reference, so skip
    // it rather than wedging data vacuum behind a log horizon that was
    // deliberately set tighter than this one
    val referenced = retained.flatMap { v =>
      try st.at(root, Some(v)).live
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("retained commit log") => Nil
      }
    }.toSet
    val dataDir = Paths.get(root, "data")
    val entries = listDir(dataDir)
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis <= cutoff
    // crashed clustered appends leave a .inflight-* staging dir under
    // the ROOT (never referenced by any commit); sweep them past the
    // same grace window that protects in-flight writers
    val staleStaging = listDir(Paths.get(root))
      .filter(_.getFileName.toString.startsWith(".inflight-"))
      .filter(oldEnough)
    // leftover .trash-* dirs are crashed prior vacuums — always doomed
    val (trash, live) =
      entries.partition(_.getFileName.toString.startsWith(".trash-"))
    val doomed = live
      .filter(p => !referenced.contains(s"data/${p.getFileName}"))
      .filter(oldEnough)
    // rename-then-delete: the rename is atomic, so a crash mid-delete
    // can never leave a PARTIAL directory under a referenced group
    // name (which read()'s isDirectory guard would wave through as
    // silently truncated data) — it leaves a .trash-* dir the next
    // vacuum finishes off, while reads of the vacuumed version fail
    // loudly on the missing group
    val renamed = doomed.map { p =>
      val t = dataDir.resolve(s".trash-${UUID.randomUUID()}")
      Files.move(p, t)
      t
    }
    (trash ++ renamed ++ staleStaging).foreach(deleteTree)
    doomed.size
  }

  /** Prune commit RECORDS (and superseded checkpoints) no longer
    * needed to replay the last `keep` versions — the retention half
    * [[vacuum]] does for data groups, applied to `_commits/` (which
    * otherwise grows forever: one JSON per commit over the table's
    * whole ingest lifetime). Safe cut point: the newest checkpoint at
    * or below the horizon start — every retained version replays from
    * it (or a newer checkpoint) plus the records kept after it, so
    * reads and time travel INSIDE the horizon are unaffected, and
    * [[describeHistory]]/[[history]] keep working over the retained
    * suffix. Versions whose records were pruned are explicitly
    * rejected at read time (the [[LogState.at]] gap check), the
    * same trade vacuumed data groups already make. No checkpoint at
    * or below the horizon yet ⇒ nothing can be pruned (returns 0) —
    * retention never outruns checkpointing. Like data vacuum, run it
    * with a horizon comfortably behind in-flight readers: a reader's
    * listed base checkpoint is only ever the cut point or newer, so a
    * `keep ≥ 2` horizon leaves the records any live replay needs.
    */
  /** Probe seams for the checkpoint-scaling claim: synthesize a
    * checkpoint of fake live groups at `version` (state() never
    * touches group payloads, so the replay path's latency can be
    * probed without 10⁴ real commits), time one state() replay, and
    * evict the parsed-checkpoint cache to measure the cold parse.
    */
  private[graft] def probeWriteCheckpoint(
      root: String, version: Int, groups: Seq[String]): Unit = {
    Files.createDirectories(commitsDir(root))
    writeCkpt(commitsDir(root), HardLinkPublisher,
      Ckpt(version, groups.toVector, Set.empty, encodeSchema(
        new StructType().add("id", org.apache.spark.sql.types.LongType))))
  }

  private[graft] def probeStateLiveCount(root: String): Int =
    state(root).at(root, None).live.size

  private[graft] def probeEvictCkptCache(): Unit = ckptCache.clear()

  def vacuumLog(root: String, keep: Int = 2,
      minAgeMs: Long = VacuumGraceMs): Int = {
    require(keep >= 1, "must retain at least the latest version")
    val st = state(root)
    val entries = listDir(commitsDir(root))
    // crashed HardLinkPublisher writers leave .tmp-<uuid> files no
    // record name ever references — sweep any older than the grace
    // window regardless of the checkpoint horizon (nothing else ever
    // deletes them, and state() lists the directory on every action)
    val tmpCutoff = System.currentTimeMillis() - minAgeMs
    var removedTmp = 0
    entries.foreach { p =>
      if (p.getFileName.toString.startsWith(".tmp-") &&
        Files.getLastModifiedTime(p).toMillis <= tmpCutoff) {
        if (Files.deleteIfExists(p)) removedTmp += 1
      }
    }
    val h0 = st.lastVersion - keep + 1
    if (h0 <= 0) return removedTmp
    val cut = entries.map(_.getFileName.toString)
      .filter(_.endsWith(".ckpt")).map(versionOfName)
      .filter(_ <= h0).sorted.lastOption
    cut match {
      case None => removedTmp
      case Some(c0) =>
        // the same grace window data vacuum applies: a reader that
        // listed the log just before a newer checkpoint landed may
        // still be reading records the cut would delete — sparing
        // young files bounds that race the same way VacuumGraceMs
        // bounds the write-to-publish gap (tests pass minAgeMs = 0)
        val cutoff = System.currentTimeMillis() - minAgeMs
        var removed = 0
        entries.foreach { p =>
          val n = p.getFileName.toString
          val doomed =
            ((n.endsWith(".json") && versionOfName(n) <= c0) ||
              (n.endsWith(".ckpt") && versionOfName(n) < c0)) &&
              Files.getLastModifiedTime(p).toMillis <= cutoff
          if (doomed) {
            if (Files.deleteIfExists(p)) removed += 1
          }
        }
        removed + removedTmp
    }
  }
}
