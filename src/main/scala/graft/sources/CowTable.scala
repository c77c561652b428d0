package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Copy-on-write table format — the missing half of q_merge_upsert (r19
  * verdict task 1): the file rewrite + snapshot commit every production
  * table format (Delta/Iceberg/Hudi) runs behind MERGE INTO, built here
  * from first principles on parquet + an atomic-rename manifest log.
  *
  * Layout under one table root:
  * {{{
  *   data/commit-<uuid>/__bucket=<b>/part-*.parquet   immutable data files
  *   manifests/v00001.tsv, v00002.tsv, ...            one per snapshot
  * }}}
  *
  * Rows are hash-bucketed by the key column (pmod(xxhash64(key), B)); a
  * snapshot is a manifest listing (bucket → data file) plus header
  * metadata (version, the committing batch id, bucket count, key
  * column). The CURRENT snapshot is simply the highest manifest number
  * present — no mutable pointer file exists anywhere in the layout.
  *
  * The three production contracts, and how each is met:
  *
  *  - '''Copy-on-write MERGE rewrites ONLY touched files.''' The change
  *    feed's distinct buckets (a ≤B-sized driver list) select which data
  *    files participate; untouched buckets' manifest entries are carried
  *    into the new snapshot BY REFERENCE — their bytes are never read,
  *    never rewritten. A CDC batch touching k of B buckets costs one
  *    co-partitioned merge join over k files plus k file writes,
  *    regardless of table size — the 100 TB posture.
  *
  *  - '''Commits are atomic and ordered.''' Data files are written
  *    FIRST, under a fresh commit-<uuid> directory no manifest
  *    references yet; the manifest is then written to a dot-temp name
  *    and atomically renamed to v<N+1>. A crash anywhere before the
  *    rename leaves orphan data files (vacuum fodder) but NEVER a
  *    half-visible table; rename-refuses-overwrite makes a lost race
  *    against a concurrent committer an explicit failure, not silent
  *    last-writer-wins (the Iceberg optimistic-commit discipline).
  *
  *  - '''Snapshots are immutable → time travel and replay idempotence
  *    are free.''' [[readVersion]] reads any retained snapshot's
  *    manifest (data files are immutable, so old versions stay exactly
  *    as committed). Each manifest records the batch id that produced
  *    it; [[merge]] on a batch id already recorded by the CURRENT
  *    snapshot is a no-op — the foreachBatch replay contract
  *    (re-running the batch that died between sink write and checkpoint
  *    commit must not double-apply).
  *
  * MERGE semantics are the q_merge_upsert contract: matched → the
  * source row wins (update), source-only → insert, target-only → keep.
  * The source is coerced to the table schema before the join (so e.g. a
  * widened decimal from arithmetic lands back at the declared
  * precision, keeping every data file's schema identical). */
object CowTable {

  private val BucketCol = "__bucket"

  /** Deterministic bucket of a key (engine-stable: xxhash64 seed 42). */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong)).cast("int")

  case class Manifest(version: Int, batchId: String, nBuckets: Int,
      keyCol: String, schemaJson: String, entries: Seq[(Int, String)]) {
    def schema: StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
  }

  private def hfs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Int): Path =
    new Path(s"$root/manifests", f"v$v%05d.tsv")

  /** Highest committed snapshot version, or 0 if the table is empty. */
  def currentVersion(s: SparkSession, root: String): Int = {
    val dir = new Path(s"$root/manifests")
    val fs = hfs(s, dir)
    if (!fs.exists(dir)) 0
    else fs.globStatus(new Path(dir, "v*.tsv"))
      .map(_.getPath.getName.stripPrefix("v").stripSuffix(".tsv").toInt)
      .foldLeft(0)(math.max)
  }

  def readManifest(s: SparkSession, root: String, v: Int): Manifest = {
    val p = manifestPath(root, v)
    val fs = hfs(s, p)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"no snapshot v$v at $root")
    val in = fs.open(p)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val hdr = lines.head.split(" ").collect {
      case kv if kv.contains("=") =>
        val Array(k, vv) = kv.split("=", 2); k -> vv
    }.toMap
    val schemaJson = lines(1).stripPrefix("#schema ")
    Manifest(hdr("v").toInt, hdr("batch"), hdr("buckets").toInt, hdr("key"),
      schemaJson,
      lines.drop(2).map { l =>
        val Array(b, path) = l.split("\t", 2); (b.toInt, path)
      }.toSeq)
  }

  /** Atomic commit: dot-temp write, then publish to the NEW version
    * name by an operation that atomically FAILS if the destination
    * exists — so a concurrent committer that won the race surfaces as
    * an explicit failure, never silent last-writer-wins.
    *
    * The publish primitive is scheme-dependent because HDFS and POSIX
    * disagree about rename: HDFS rename refuses an existing destination
    * (returns false), but RawLocalFileSystem delegates to rename(2),
    * which silently REPLACES it — an exists() pre-check would leave a
    * TOCTOU window. On local filesystems the commit is therefore a hard
    * LINK (link(2) fails with EEXIST atomically) followed by deleting
    * the temp name; everywhere else it is the refusing rename. */
  private[graft] def writeManifest(s: SparkSession, root: String, m: Manifest): Unit = {
    val fin = manifestPath(root, m.version)
    val fs = hfs(s, fin)
    fs.mkdirs(fin.getParent)
    if (fs.exists(fin)) // fast-path courtesy check; the publish re-checks atomically
      throw new java.util.ConcurrentModificationException(
        s"snapshot v${m.version} already committed at $root")
    val tmp = new Path(fin.getParent,
      s".${fin.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try {
      val body = new StringBuilder
      body ++= s"#graft-cow v=${m.version} batch=${m.batchId} " +
        s"buckets=${m.nBuckets} key=${m.keyCol}\n"
      body ++= s"#schema ${m.schemaJson}\n"
      m.entries.foreach { case (b, path) => body ++= s"$b\t$path\n" }
      out.write(body.toString.getBytes("UTF-8"))
    } finally out.close()
    val published =
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fin.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else fs.rename(tmp, fin)
    if (fs.getScheme == "file" || !published)
      try fs.delete(tmp, false) catch { case _: Exception => () }
    if (!published)
      throw new java.util.ConcurrentModificationException(
        s"lost commit race for snapshot v${m.version} at $root")
  }

  /** List the (bucket, root-relative path) pairs of one commit dir. */
  private def listCommit(s: SparkSession, root: String,
      commitRel: String): Seq[(Int, String)] = {
    val fs = hfs(s, new Path(root))
    fs.globStatus(new Path(s"$root/$commitRel", s"$BucketCol=*/*.parquet"))
      .map { st =>
        val b = st.getPath.getParent.getName
          .stripPrefix(s"$BucketCol=").toInt
        val rel = s"$commitRel/${st.getPath.getParent.getName}/${st.getPath.getName}"
        (b, rel)
      }.toSeq.sortBy(e => (e._1, e._2))
  }

  private def writeCommitDir(df: DataFrame, root: String, keyCol: String,
      nBuckets: Int): String = {
    val commitRel = s"data/commit-${java.util.UUID.randomUUID()}"
    // repartition BY THE BUCKET COLUMN before the partitioned write:
    // without it every shuffle partition writes its own sliver into
    // every bucket dir (up to spark.sql.shuffle.partitions small files
    // per bucket per commit — the classic small-files leak); with it
    // each bucket lands in exactly one task → ONE file per touched
    // bucket per snapshot, so buckets never accumulate files and the
    // manifest stays one line per bucket. Write parallelism is then
    // bounded by the bucket count — at 100 TB you size B accordingly
    // (thousands), exactly like choosing an Iceberg bucket transform N.
    df.withColumn(BucketCol, bucketOf(col(keyCol), nBuckets))
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).parquet(s"$root/$commitRel")
    commitRel
  }

  /** Create the table: bucket `df` by `keyCol`, write all data files,
    * commit snapshot v1 (batch id "create"). */
  def create(df: DataFrame, root: String, keyCol: String,
      nBuckets: Int): Unit = {
    val s = df.sparkSession
    require(currentVersion(s, root) == 0, s"table already exists at $root")
    require(df.schema.fieldNames.contains(keyCol),
      s"key column $keyCol not in ${df.schema.fieldNames.mkString(",")}")
    val commitRel = writeCommitDir(df, root, keyCol, nBuckets)
    writeManifest(s, root, Manifest(1, "create", nBuckets, keyCol,
      df.schema.json, listCommit(s, root, commitRel)))
  }

  private def readEntries(s: SparkSession, root: String,
      entries: Seq[(Int, String)], schema: Option[StructType]): DataFrame = {
    val paths = entries.map { case (_, rel) => s"$root/$rel" }
    if (paths.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.getOrElse(new StructType()))
    else schema.fold(s.read)(s.read.schema).parquet(paths: _*)
  }

  /** Read the current snapshot. */
  def read(s: SparkSession, root: String): DataFrame =
    readVersion(s, root, currentVersion(s, root))

  /** Time travel: read snapshot `v` exactly as committed (data files are
    * immutable; every retained manifest stays readable). The MANIFEST
    * schema drives the read — after an add-column evolution the table
    * holds files of two widths, and file-inferred schemas would be
    * nondeterministic; with the manifest authoritative, pre-evolution
    * files surface the new column as null (parquet by-name resolution)
    * and pre-evolution SNAPSHOTS keep their original width. */
  def readVersion(s: SparkSession, root: String, v: Int): DataFrame = {
    val m = readManifest(s, root, v)
    readEntries(s, root, m.entries, Some(m.schema))
  }

  /** MERGE `src` into the table (matched → update, source-only →
    * insert, target-only → keep), rewriting ONLY the data files of
    * buckets the source touches; everything else is carried into the
    * new snapshot by reference. Returns true if a new snapshot was
    * committed, false for a REPLAY (the current snapshot already
    * records `batchId` — the idempotent re-run contract).
    *
    * `deleteCol`: WHEN MATCHED … THEN DELETE — the name of a boolean
    * column on `src` (NOT part of the table schema) marking rows whose
    * key must be REMOVED from the table (the GDPR/right-to-erasure path
    * every table format carries). A delete-flagged key that does not
    * exist is a no-op, never an insert. Deletion is copy-on-write like
    * everything else: only the key's bucket is rewritten, and the row
    * remains visible in earlier snapshots until [[vacuum]] expires
    * them — full erasure = delete-merge + vacuum past the retention
    * window (document THAT as the compliance recipe, not the merge
    * alone). */
  def merge(s: SparkSession, root: String, src: DataFrame,
      batchId: String, deleteCol: Option[String] = None): Boolean = {
    val cur = currentVersion(s, root)
    require(cur > 0, s"no table at $root — create() first")
    val man = readManifest(s, root, cur)
    if (man.batchId == batchId) return false // replayed batch: no-op
    val key = man.keyCol
    // schema evolution, add-column: the source must carry EVERY table
    // column (row-level replacement semantics need the whole row) and
    // may APPEND new ones — they join the table schema as nullable
    // fields, old files read null there (parquet by-name resolution
    // under the manifest-authoritative schema), and pre-evolution
    // snapshots keep their original width
    val baseSchema = man.schema
    val missing = baseSchema.fieldNames.filterNot(src.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"MERGE source must carry every table column; missing: ${missing.mkString(",")}")
    val newFields = src.schema.fields.filter(f =>
      !baseSchema.fieldNames.contains(f.name) && !deleteCol.contains(f.name))
      .map(_.copy(nullable = true))
    val tableSchema = StructType(baseSchema.fields ++ newFields)
    // materialized once (localCheckpoint): the source plan may be an
    // expensive CDC transform, and it feeds two consumers below (the
    // guard aggregate and the merge join)
    val srcCast = src.select((tableSchema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq
      ++ deleteCol.map(d => coalesce(col(d).cast("boolean"), lit(false))
        .as("__del"))): _*)
      .localCheckpoint(true)
    // a MERGE source with duplicate keys is ill-formed: the full-outer
    // join would pair each duplicate with the one target row and write
    // duplicate keys into the table PERMANENTLY (every later merge fans
    // out further). Delta/Iceberg raise on multiple source matches; so
    // does this seam — one delta-sized aggregate, checked before any write.
    // The same aggregate detects the touched files from the SOURCE KEYS
    // (≤B driver-side bucket ints).
    val guard = srcCast.agg(count(lit(1)), count_distinct(col(key)),
      collect_set(bucketOf(col(key), man.nBuckets))).head()
    val (nSrc, nKeys) = (guard.getLong(0), guard.getLong(1))
    require(nSrc == nKeys,
      s"MERGE source has duplicate keys ($nSrc rows, $nKeys distinct $key)")
    val touched = guard.getSeq[Int](2).toSet
    val (touchedEntries, untouchedEntries) =
      man.entries.partition { case (b, _) => touched(b) }
    val payload = tableSchema.fieldNames.filterNot(_ == key).toIndexedSeq
    val target = readEntries(s, root, touchedEntries, Some(tableSchema))
    val delFlag: Column =
      if (deleteCol.isDefined) coalesce(col("__del"), lit(false))
      else lit(false)
    val merged = target
      .select(col(key), struct(payload.map(col): _*).as("t"))
      .join(srcCast.select((col(key) +: struct(payload.map(col): _*).as("sr")
          +: deleteCol.map(_ => col("__del")).toSeq): _*),
        Seq(key), "full_outer")
      // delete-flagged source rows REMOVE the key (a flagged key with no
      // target row is a no-op, never an insert)
      .filter(!delFlag)
      // row-level resolution: a matched source row REPLACES the target
      // row wholly (struct coalesce, not per-column — a NULL in the
      // source is an update to NULL, not "inherit the old value")
      .select(col(key), coalesce(col("sr"), col("t")).as("r"))
      .select(col(key) +: payload.map(p => col(s"r.$p").as(p)): _*)
    // data first, manifest second: a crash here leaves unreferenced
    // files (vacuum fodder), never a half-visible snapshot
    val commitRel = writeCommitDir(merged, root, key, man.nBuckets)
    writeManifest(s, root, Manifest(cur + 1, batchId, man.nBuckets, key,
      tableSchema.json,
      (untouchedEntries ++ listCommit(s, root, commitRel))
        .sortBy(e => (e._1, e._2))))
    true
  }

  /** Change data feed: the row-level diff between two snapshots —
    * (key, payload-after, change) with change ∈ insert/update/delete —
    * the Delta-CDF shape downstream incrementals subscribe to instead
    * of re-diffing whole tables. Copy-on-write makes it PRUNED BY
    * CONSTRUCTION: a bucket whose manifest entries are identical in
    * both snapshots was carried by reference and cannot contain a
    * change, so only the buckets whose file lists differ are read from
    * either side — the read is rewrite-bounded, never table-sized.
    * Update detection compares the full payload struct (a rewrite that
    * left a row byte-identical is NOT a change). For deletes the
    * payload columns are NULL and the key survives in the feed. */
  def changes(s: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV < toV, s"changes requires fromV < toV, got $fromV..$toV")
    val mOld = readManifest(s, root, fromV)
    val mNew = readManifest(s, root, toV)
    val key = mNew.keyCol
    val oldByB = mOld.entries.groupBy(_._1)
    val newByB = mNew.entries.groupBy(_._1)
    val changedBuckets = (oldByB.keySet ++ newByB.keySet).filter(b =>
      oldByB.getOrElse(b, Nil).map(_._2) != newByB.getOrElse(b, Nil).map(_._2))
    val oldSide = readEntries(s, root,
      mOld.entries.filter(e => changedBuckets(e._1)), Some(mOld.schema))
    val newSide = readEntries(s, root,
      mNew.entries.filter(e => changedBuckets(e._1)), Some(mNew.schema))
    // both sides projected to the NEW schema so an add-column evolution
    // diffs on the widened payload (old rows read null in new columns)
    val payload = mNew.schema.fieldNames.filterNot(_ == key).toIndexedSeq
    def packed(df: DataFrame, as: String) = {
      val widened = mNew.schema.fields.filterNot(_.name == key)
        .map(f => (if (df.columns.contains(f.name)) col(f.name)
          else lit(null)).cast(f.dataType).as(f.name))
      df.select(col(key), struct(widened.toIndexedSeq: _*).as(as))
    }
    packed(oldSide, "o").join(packed(newSide, "n"), Seq(key), "full_outer")
      .filter(!(col("o") <=> col("n"))) // byte-identical rewrite ≠ change
      .select(col(key) +: payload.map(p => col(s"n.$p").as(p)) :+
        when(col("o").isNull, "insert")
          .when(col("n").isNull, "delete")
          .otherwise("update").as("change"): _*)
  }

  /** Bucket-pruned point lookup: read ONLY the data files of the
    * buckets the requested keys hash to — the read-side payoff of the
    * layout (an Iceberg bucket-transform scan): a k-key lookup against
    * a B-bucket table opens ≤k of B buckets' files no matter how large
    * the table is. Returns exactly the rows of the current snapshot
    * whose key is in `keys` (the residual key filter runs on the pruned
    * scan — hash collisions within a bucket are filtered, not surfaced). */
  def readKeys(s: SparkSession, root: String, keys: Seq[Any]): DataFrame = {
    val cur = currentVersion(s, root)
    require(cur > 0, s"no table at $root")
    val man = readManifest(s, root, cur)
    // literals are CAST to the table's key type before hashing: xxhash64
    // hashes an Int (4-byte path) differently from a Long, so an uncast
    // lit(7: Int) against a LongType key would prune to the WRONG bucket
    // and silently return nothing (the same coercion merge applies to
    // its source)
    val keyType = man.schema(man.keyCol).dataType
    val keyLits = keys.map(k => lit(k).cast(keyType))
    val wanted: Set[Int] = s.range(1)
      .select(explode(array(keyLits.map(k =>
        bucketOf(k, man.nBuckets)): _*)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val pruned = man.entries.filter { case (b, _) => wanted(b) }
    // the residual filter needs no manual cast: Catalyst's coercion
    // rules widen the comparison literals correctly (only HASHING is
    // width-sensitive)
    readEntries(s, root, pruned, Some(man.schema))
      .filter(col(man.keyCol).isin(keys: _*))
  }

  /** Vacuum: delete data files no RETAINED snapshot references —
    * completes the copy-on-write lifecycle (every merge strands the
    * touched buckets' old files in superseded snapshots; a crashed
    * writer strands whole commit dirs). `retainLast` snapshots keep
    * time-travel working (their manifests and every file they reference
    * survive); older manifests are dropped too, so the retention window
    * is explicit. Returns the number of deleted data files.
    *
    * Safe by construction: the reachable-file set is computed from the
    * retained manifests BEFORE anything is deleted, data files are
    * immutable, and a concurrent reader of a retained snapshot never
    * loses a file. (A reader of an EXPIRED snapshot can fail — that is
    * what retention means; pick retainLast accordingly.)
    *
    * `minOrphanAgeMs` guards the one hole reachability alone cannot
    * close: an IN-FLIGHT merge that has written its commit dir but not
    * yet published its manifest is indistinguishable from a crashed
    * writer's orphan. An unreferenced commit dir is therefore deleted
    * only once it is older than this window (default 24 h — no merge
    * runs that long); files SUPERSEDED by a retained manifest carry no
    * such ambiguity and are deleted regardless of age. Set it to 0 only
    * when no writer can be live (tests, offline maintenance). */
  def vacuum(s: SparkSession, root: String, retainLast: Int = 2,
      minOrphanAgeMs: Long = 24L * 3600 * 1000): Int = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val cur = currentVersion(s, root)
    require(cur > 0, s"no table at $root")
    val keepVersions = (math.max(1, cur - retainLast + 1) to cur).toSeq
    val reachable: Set[String] = keepVersions
      .flatMap(v => readManifest(s, root, v).entries.map(_._2)).toSet
    val fs = hfs(s, new Path(root))
    val cutoff = System.currentTimeMillis() - minOrphanAgeMs
    // commit dirs with ≥1 reachable file keep their skeleton (markers,
    // checksums) and lose only superseded parquet files; a commit dir
    // NO retained manifest references at all — a fully superseded merge
    // or a crashed writer's orphan — is dropped recursively once it is
    // past the in-flight-writer window
    val reachableDirs = reachable.map(_.split("/")(1))
    var deleted = 0
    fs.globStatus(new Path(s"$root/data", "commit-*")).foreach { d =>
      val dirName = d.getPath.getName
      if (!reachableDirs(dirName)) {
        if (d.getModificationTime <= cutoff) {
          deleted += fs.globStatus(
            new Path(d.getPath, s"$BucketCol=*/*.parquet")).length
          fs.delete(d.getPath, true): Unit
        }
      } else {
        fs.globStatus(new Path(d.getPath, s"$BucketCol=*/*.parquet"))
          .foreach { st =>
            val rel = s"data/$dirName/${st.getPath.getParent.getName}/" +
              s"${st.getPath.getName}"
            if (!reachable(rel)) { fs.delete(st.getPath, false); deleted += 1 }
          }
      }
    }
    (1 until keepVersions.head).foreach { v =>
      fs.delete(manifestPath(root, v), false): Unit
    }
    deleted
  }

  /** Streaming CDC apply: MERGE each micro-batch into the table from
    * foreachBatch, keyed by the engine's batch id. This is the
    * exactly-once production sink recipe completed: Structured Streaming
    * guarantees a batch REPLAYED after a failure between sink write and
    * checkpoint commit re-runs with the SAME batch id, and [[merge]] on
    * a batch id the current snapshot already records is a no-op — so the
    * replay window that doubles rows on a naive sink double-applies
    * nothing here (CheckpointRecoverySpec pins it with a forced replay).
    * Returns the started query. */
  def applyCdc(df: DataFrame, root: String, checkpoint: String) =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          merge(batch.sparkSession, root, batch, s"stream-batch-$id"): Unit
      }
      .start()
}
