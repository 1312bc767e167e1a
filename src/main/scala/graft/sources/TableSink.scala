package graft.sources

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}

import java.net.URI
import java.nio.charset.StandardCharsets
import java.util.EnumSet

/** The lakehouse table-format seam: every mutation graft performs on a
  * managed table goes through this four-method contract, so swapping
  * the sandbox's parquet implementation for Delta Lake or Apache
  * Iceberg touches ONE class and zero operators.
  *
  * Method-by-method mapping to the two mainstream formats:
  *
  *  - '''append(df, txn)''' — Delta: `df.write.format("delta")
  *    .mode("append")` (idempotent via `txnAppId`/`txnVersion`);
  *    Iceberg: `table.newAppend()`.
  *  - '''overwrite(df, txn)''' — Delta: `.mode("overwrite")`; Iceberg:
  *    `newReplacePartitions()` / `REPLACE TABLE ... AS SELECT`.
  *  - '''mergeByKey(changes, …)''' — Delta/Iceberg
  *    `MERGE INTO t USING c ON t.key = c.key
  *     WHEN MATCHED AND c.op = 'D' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT *`.
  *    The changes side is first collapsed to its LAST row per key
  *    (max_by on the caller's ordering — the Debezium-apply collapse),
  *    because SQL MERGE requires a unique source row per key.
  *  - '''snapshot(v) / current''' — time travel: Delta
  *    `option("versionAsOf", v)`; Iceberg `option("snapshot-id", v)`.
  *  - '''schema enforcement''' — both formats reject writes whose
  *    schema drifts from the table's unless evolution is explicitly
  *    enabled; [[ParquetVersionedTable]] enforces the same
  *    (name, dataType) equality on every append/merge and throws
  *    `IllegalArgumentException` on drift.
  *  - '''idempotent transactions''' — the optional `txn` version is
  *    Delta's `txnAppId`/`txnVersion` pair (and Structured Streaming's
  *    `foreachBatch` batchId): committing any version AT OR BELOW the
  *    one already recorded in the table pointer is a no-op (Delta's
  *    `txnVersion <= last recorded ⇒ replay, skip` contract), which is
  *    what makes the streaming upsert sink exactly-once under Spark's
  *    same-batchId retry — and keeps a STALE retry (txn v arriving
  *    after v+1 committed) from rolling the pointer backwards.
  *
  * Every method that mutates returns the committed version number.
  */
trait TableSink {
  /** Latest committed version, if the table exists. */
  def currentVersion: Option[Long]
  /** Snapshot-read the latest version. */
  def current: Option[DataFrame]
  /** Time travel: snapshot-read an explicit committed version. */
  def snapshot(version: Long): DataFrame
  /** All committed versions, ascending (time-travel catalog). */
  def versions: Seq[Long]
  /** Append rows (schema-enforced). With `evolve` — Delta's
    * `mergeSchema` / Iceberg's union-by-name schema evolution — the
    * write may ADD new columns: the table schema becomes the union by
    * name, existing rows read back null for the added columns, and
    * shared columns must still match (name, dataType) exactly.
    * Evolution is a METADATA-level operation (no data rewritten — what
    * makes column adds free at 100 TB): only the manifest's schema
    * widens; pre-evolution data files are re-referenced untouched and
    * read back null for the added columns through the manifest schema. */
  def append(df: DataFrame, txn: Option[Long] = None,
      evolve: Boolean = false): Long
  /** Replace the table contents. */
  def overwrite(df: DataFrame, txn: Option[Long] = None): Long
  /** MERGE: collapse `changes` to its last row per key by `ordCols`,
    * delete keys whose last op is 'D' (when `opCol` is set), upsert the
    * rest; base rows with no change pass through (schema-enforced). */
  def mergeByKey(changes: DataFrame, keyCols: Seq[String],
      ordCols: Seq[String], opCol: Option[String] = None,
      txn: Option[Long] = None): Long
  /** Small-file compaction (Delta `OPTIMIZE` / Iceberg
    * `rewrite_data_files`): bin-pack the live file set toward
    * `targetBytes` per file as a new commit that changes no data,
    * preserving the bucket layout and time travel. */
  def optimize(targetBytes: Long = 128L * 1024 * 1024): Long
  /** Retention vacuum (Delta `VACUUM` / Iceberg `expire_snapshots`):
    * drop all but the newest `retainVersions` versions and delete every
    * data file no retained manifest references. Copy-on-write retains
    * old files for time travel; without a vacuum a long-lived table
    * accumulates every version's rewrites forever. Retained versions
    * stay fully time-travelable (their files are never touched).
    * Returns the number of data files deleted. */
  def vacuum(retainVersions: Int = 2): Int
}

/** Shared MERGE planning used by BOTH the [[TableSink]] implementation
  * and the `etl_merge_cdc` registry query — one merge algebra, two
  * surfaces (a committed table mutation and an auditable action
  * report). Both are single-pass plans: one map-side-combined max_by
  * collapse of the changelog, one full-outer join on the key. */
object TableMerge {

  /** Collapse a changelog to its LAST row per key: max_by on the
    * caller's ordering columns (one keyed aggregation, map-side
    * combined — never a window over the full log). The survivors keep
    * every non-key column, ordering columns included. */
  def lastChangePerKey(changes: DataFrame, keyCols: Seq[String],
      ordCols: Seq[String]): DataFrame = {
    val others = changes.columns.filterNot(keyCols.contains)
    changes.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct(ordCols.map(col): _*)).as("_last"))
      .select(keyCols.map(col) ++ others.map(c => col(s"_last.$c").as(c)): _*)
  }

  /** The MERGE join: base FULL OUTER JOIN collapsed-changes on the key,
    * rows whose change op is 'D' dropped, with a `merge_action` column
    * (kept / inserted / updated) describing what MERGE did to each
    * surviving row. Callers project their payload from the joined
    * columns (change columns win for matched rows — UPDATE SET *). */
  def outerMergeWithActions(base: DataFrame, lastChanges: DataFrame,
      keyPairs: Seq[(String, String)],
      opCol: Option[String]): DataFrame = {
    val cond = keyPairs.map { case (b, c) => base(b) === lastChanges(c) }
      .reduce(_ && _)
    val joined = base.join(lastChanges, cond, "full_outer")
    val survivors = opCol.fold(joined)(op => joined.filter(!(col(op) <=> lit("D"))))
    survivors.withColumn("merge_action",
      when(lastChanges(keyPairs.head._2).isNull, lit("kept"))
        .when(base(keyPairs.head._1).isNull, lit("inserted"))
        .otherwise(lit("updated")))
  }
}

/** Parquet implementation of [[TableSink]] with FILE-GRANULARITY
  * copy-on-write — the physical layout the real formats use, not a
  * full-snapshot-per-version one:
  *
  *  - '''immutable data files''' live under `data/v=<writer-version>/`;
  *    a file is written exactly once by the commit that creates it and
  *    never rewritten (except by an idempotent pre-flip retry of that
  *    same commit, which deterministically rebuilds its own dir).
  *  - '''a manifest per version''' (`manifest/v=<N>`) lists the data
  *    files that make up that snapshot (Delta's checkpointed add-file
  *    set / Iceberg's manifest list), plus the snapshot schema and the
  *    key-hash bucketing spec. Snapshot reads resolve the manifest and
  *    scan exactly its files with the manifest schema.
  *  - '''append''' writes ONLY the new rows' files and re-references
  *    every existing file: commit cost ∝ |appended rows|, not |table|.
  *  - '''mergeByKey''' hash-buckets the table on the merge key
  *    (`spark.graft.tablesink.buckets`, default 16). A bucket's files
  *    contain only keys hashing to that bucket, so a merge reads and
  *    rewrites ONLY the buckets the change keys hash into and
  *    re-references the rest byte-identical: commit cost
  *    ∝ |touched buckets| + |changes|, not |table| — Delta's
  *    rewrite-only-touched-data-files copy-on-write. The first merge
  *    on an unbucketed table (or with a different key) pays one full
  *    bucketizing rewrite, then stays incremental.
  *  - '''schema evolution''' is metadata-only: the manifest schema
  *    widens, old files are re-referenced and read null for added
  *    columns (Delta `mergeSchema` at zero data cost).
  *
  * Commit protocol: write data files → write manifest → atomically
  * flip the `_latest` pointer (temp file + same-directory
  * `FileContext.rename(OVERWRITE)`, Hadoop's atomic-replace contract) —
  * readers see either the old or the new complete version, never a
  * torn one. ALL pointer/manifest IO rides ONE Hadoop API —
  * FileContext — end to end (create, open, rename): mixing the
  * checksummed FileSystem API's create/open with FileContext renames
  * leaves `.crc` sidecars behind that a later rename doesn't update,
  * poisoning every subsequent checksummed read (ChecksumException on a
  * healthy pointer). The pointer file plays the Delta `_delta_log`
  * tail / Iceberg metadata pointer role at the fidelity a filesystem
  * sandbox allows.
  *
  * Scale shape: the pointer is one file; data files and manifests are
  * immutable, so concurrent snapshot reads never block a writer. Old
  * versions are retained for time travel; production would vacuum
  * unreferenced files by retention policy.
  */
final class ParquetVersionedTable(spark: SparkSession, dir: String)
    extends TableSink {

  import ParquetVersionedTable.{BucketCol, Manifest, UnbucketedId}

  // ONE Hadoop API for all pointer/manifest operations (see class doc).
  // FileContext's local implementation is the checksummed LocalFs, so
  // create/open/rename keep the .crc sidecar consistent end to end —
  // temp-file + same-directory rename(OVERWRITE) works identically on
  // posix, HDFS and rename-capable object stores.
  private def fc: FileContext =
    FileContext.getFileContext(URI.create(dir),
      spark.sparkContext.hadoopConfiguration)

  private val pointerPath = new Path(dir, "_latest")
  private def manifestPath(v: Long) = new Path(s"$dir/manifest", s"v=$v")

  /** Read a small metadata file fully. The InputStream contract allows
    * short reads, so a single read() could return a truncated prefix
    * ('1' of '12') and silently parse a WRONG version — loop to EOF. */
  private def readFully(p: Path): String = {
    val in = fc.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream(256)
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Atomic small-file write: temp file + same-directory
    * rename(OVERWRITE) — readers see the old or new content, never a
    * torn one. Used for both the pointer and manifests. */
  private def atomicWrite(p: Path, content: String): Unit = {
    val f = fc
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  def currentVersion: Option[Long] = {
    val f = fc
    if (f.util.exists(pointerPath)) Some(readFully(pointerPath).trim.toLong)
    else None
  }

  def current: Option[DataFrame] = currentVersion.map(snapshot)

  def snapshot(version: Long): DataFrame = {
    val m = readManifest(version)
    if (m.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], m.schema)
    else
      // explicit manifest schema: old files read null for columns added
      // by later evolution; no mergeSchema footer sweep at read time
      spark.read.schema(m.schema)
        .parquet(m.files.map(f => s"$dir/${f._2}"): _*)
  }

  def versions: Seq[Long] = {
    val f = fc
    val d = new Path(dir, "manifest")
    if (!f.util.exists(d)) Seq.empty
    else f.util.listStatus(d).iterator
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong).toSeq.sorted
  }

  private def currentManifest: Option[Manifest] =
    currentVersion.map(readManifest)

  private def readManifest(v: Long): Manifest = {
    val lines = readFully(manifestPath(v)).split('\n').iterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    var schema: StructType = null
    var bucketing: Option[(Seq[String], Int)] = None
    val files = Seq.newBuilder[(Int, String)]
    lines.foreach { line =>
      val sp = line.indexOf(' ')
      val (tag, rest) =
        if (sp < 0) (line, "") else (line.take(sp), line.drop(sp + 1))
      tag match {
        case "schema" =>
          schema = DataType.fromJson(rest).asInstanceOf[StructType]
        case "bucketing" =>
          val Array(b, cols) = rest.split(' ')
          bucketing = Some((cols.split(',').toSeq, b.toInt))
        case "file" =>
          val fsp = rest.indexOf(' ')
          files += ((rest.take(fsp).toInt, rest.drop(fsp + 1)))
        case _ => () // header / version line
      }
    }
    require(schema != null, s"manifest v=$v missing schema line")
    Manifest(v, schema, bucketing, files.result())
  }

  private def writeManifest(m: Manifest): Unit = {
    val sb = new StringBuilder
    sb ++= "graft-table-manifest v1\n"
    sb ++= s"version ${m.version}\n"
    sb ++= s"schema ${m.schema.json}\n"
    m.bucketing.foreach { case (cols, b) =>
      sb ++= s"bucketing $b ${cols.mkString(",")}\n"
    }
    m.files.foreach { case (bkt, path) => sb ++= s"file $bkt $path\n" }
    atomicWrite(manifestPath(m.version), sb.result())
  }

  /** Write `df`'s rows as NEW immutable data files for version `v`
    * (bucketized by key hash when a spec is given) and return their
    * (bucket, dir-relative path) entries. mode=overwrite keeps a
    * pre-flip retry deterministic: the retry rebuilds its OWN version
    * dir wholesale; committed versions' files are never touched. */
  private def writeData(df: DataFrame, v: Long,
      spec: Option[(Seq[String], Int)]): Seq[(Int, String)] = {
    val dataDir = s"$dir/data/v=$v"
    spec match {
      case Some((cols, b)) =>
        require(!df.columns.contains(BucketCol),
          s"column name $BucketCol is reserved by the table layout")
        df.withColumn(BucketCol, pmod(hash(cols.map(col): _*), lit(b)))
          .write.mode("overwrite").partitionBy(BucketCol).parquet(dataDir)
      case None =>
        df.write.mode("overwrite").parquet(dataDir)
    }
    listDataFiles(dataDir)
  }

  /** Enumerate a version dir's committed parquet files as the
    * (bucket, dir-relative path) manifest entries. */
  private def listDataFiles(dataDir: String): Seq[(Int, String)] = {
    val f = fc
    val it = f.util.listFiles(new Path(dataDir), true)
    val out = Seq.newBuilder[(Int, String)]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith(".")) {
        val parent = st.getPath.getParent.getName
        val bkt =
          if (parent.startsWith(s"$BucketCol="))
            parent.stripPrefix(s"$BucketCol=").toInt
          else UnbucketedId
        // dir-relative path, so the table directory is relocatable
        val rel = st.getPath.toUri.getPath
          .stripPrefix(new Path(dir).toUri.getPath).stripPrefix("/")
        out += ((bkt, rel))
      }
    }
    out.result()
  }

  /** Delta/Iceberg reject writes whose schema drifts from the table's
    * unless evolution is explicitly requested; enforce the same. With
    * `evolve`, NEW columns are admitted (union-by-name evolution) but
    * shared columns must still match (name, dataType) — evolution
    * never silently retypes or drops an existing column. */
  private def enforceSchema(df: DataFrame, evolve: Boolean = false): Unit =
    currentManifest.foreach { m =>
      val have = m.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (!evolve)
        require(have == got,
          s"schema drift rejected (enable evolution explicitly): " +
            s"table=$have write=$got")
      else {
        val haveM = have.toMap
        val mismatched = got.filter { case (n, t) =>
          haveM.get(n).exists(_ != t)
        }
        require(mismatched.isEmpty,
          s"schema evolution cannot retype existing columns: $mismatched " +
            s"vs table=$have")
        require(have.map(_._1).forall(got.map(_._1).contains),
          s"schema evolution cannot drop existing columns: " +
            s"table=${have.map(_._1)} write=${got.map(_._1)}")
      }
    }

  /** Commit protocol shared by all mutations: idempotent-retry check on
    * the transaction version, data-file + manifest write, pointer flip.
    * Delta's `txnAppId`/`txnVersion` contract: ANY `txn` at or below the
    * recorded version is a replay and no-ops (returns `txn` untouched) —
    * a stale retry of version v arriving after v+1 committed must never
    * rebuild v and flip the pointer backwards, discarding v+1. Only a
    * txn STRICTLY ABOVE the current version (or an unversioned commit)
    * builds and flips. A pre-flip retry rebuilds the same version's
    * data dir + manifest deterministically and overwrites them before
    * flipping; committed versions' files are immutable. */
  private def commit(txn: Option[Long])(build: Long => Manifest): Long = {
    val cv = currentVersion
    txn.filter(t => cv.exists(t <= _)) match {
      case Some(v) => v // replay of an already-committed transaction
      case None =>
        val v = txn.getOrElse(cv.fold(0L)(_ + 1L))
        writeManifest(build(v))
        atomicWrite(pointerPath, v.toString)
        v
    }
  }

  def append(df: DataFrame, txn: Option[Long] = None,
      evolve: Boolean = false): Long = {
    enforceSchema(df, evolve)
    val cur = currentManifest
    commit(txn) { v =>
      // appended rows join the existing bucket layout so later merges
      // stay bucket-incremental; existing files are RE-REFERENCED, not
      // rewritten — append cost ∝ |df|, never |table|
      val spec = cur.flatMap(_.bucketing)
      val newFiles = writeData(df, v, spec)
      val schema = cur match {
        case None => df.schema
        case Some(m) if !evolve => m.schema
        case Some(m) => // metadata-only union-by-name evolution
          StructType(m.schema.fields ++
            df.schema.fields.filterNot(f => m.schema.fieldNames.contains(f.name)))
      }
      Manifest(v, schema, spec, cur.map(_.files).getOrElse(Nil) ++ newFiles)
    }
  }

  def overwrite(df: DataFrame, txn: Option[Long] = None): Long = {
    val cur = currentManifest
    commit(txn) { v =>
      // keep the bucket layout across an overwrite when the new data
      // still carries the key columns (so later merges stay incremental)
      val spec = cur.flatMap(_.bucketing)
        .filter(_._1.forall(df.columns.contains))
      Manifest(v, df.schema, spec, writeData(df, v, spec))
    }
  }

  def mergeByKey(changes: DataFrame, keyCols: Seq[String],
      ordCols: Seq[String], opCol: Option[String] = None,
      txn: Option[Long] = None): Long = {
    // ONE pass over the changes feeds guard + merge: the collapsed
    // last-per-key relation is persisted, the null-key guard runs on it
    // (a null-keyed change row survives the groupBy as a null-keyed
    // group, so detection is equivalent), and the merge reuses the
    // cached collapse — the streaming foreachBatch upsert path computes
    // its per-micro-batch source once, not twice.
    val last = TableMerge.lastChangePerKey(changes, keyCols, ordCols)
      .persist()
    try {
      // Null merge keys are rejected up front: a null key never joins
      // (=== is null-rejecting, like MERGE's ON), so such a row would be
      // mislabeled 'kept' and surface as an all-null snapshot row. Delta
      // MERGE would INSERT it as an unmatched source row — an unkeyed
      // record in a keyed table, which later merges can never address —
      // so fail fast instead, the same posture as schema drift.
      require(last.filter(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty,
        s"mergeByKey rejects change rows with null merge keys " +
          s"(${keyCols.mkString(",")}); filter them upstream")
      val curM = currentManifest
      // The stored payload is the TABLE's column set — changelog-only
      // bookkeeping columns (op codes, sequence numbers absent from the
      // table schema) never leak into the snapshot. A fresh table adopts
      // every change column except the op code.
      val payload: Seq[String] =
        curM.map(_.schema.fieldNames.toSeq).getOrElse(
          last.columns.filterNot(opCol.contains).toSeq)
      require(payload.forall(last.columns.contains),
        s"changes must carry every table column; missing: " +
          payload.filterNot(last.columns.contains).mkString(","))
      val upserts = opCol.fold(last)(op => last.filter(!(col(op) <=> lit("D"))))
      enforceSchema(upserts.select(payload.map(col): _*))
      val numBuckets =
        GraftSession.positiveInt(spark, "spark.graft.tablesink.buckets", 16)
      commit(txn) { v =>
        curM match {
          case None =>
            val spec = Some((keyCols, numBuckets))
            val out = upserts.select(payload.map(col): _*)
            Manifest(v, out.schema, spec, writeData(out, v, spec))
          case Some(m) =>
            // COPY-ON-WRITE CORE: a bucket's files contain only keys
            // hashing to it, so only buckets intersecting the change
            // keys are read + rewritten; the rest are re-referenced
            // byte-identical. Unbucketed files (-1: pre-merge appends)
            // can hold any key and are always folded in. A bucketing
            // keyed differently from this merge forces one full
            // re-bucketing rewrite, after which merges are incremental.
            val spec = m.bucketing.filter(_._1 == keyCols)
              .orElse(Some((keyCols, numBuckets)))
            val (touched, kept) =
              if (!m.bucketing.exists(_._1 == keyCols)) (m.files, Nil)
              else {
                val b = spec.get._2
                // ≤ numBuckets values — bounded collect by construction
                val hit = last.select(
                    pmod(hash(keyCols.map(col): _*), lit(b)).as("_b"))
                  .distinct().collect().map(_.getInt(0)).toSet
                m.files.partition { case (bkt, _) =>
                  bkt == UnbucketedId || hit(bkt) }
              }
            val base =
              if (touched.isEmpty)
                spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
              else spark.read.schema(m.schema)
                .parquet(touched.map(f => s"$dir/${f._2}"): _*)
            // UPDATE SET * / INSERT * / DELETE in one full-outer pass:
            // change columns win for matched keys, base passes through
            // unmatched, keys whose last op is 'D' drop entirely.
            val merged = TableMerge.outerMergeWithActions(
              base.select(payload.map(c => col(c).as(s"_b_$c")): _*),
              last, keyCols.map(k => (s"_b_$k", k)), opCol)
            val out = merged.select(payload.map(c =>
              when(col(keyCols.head).isNotNull, col(c))
                .otherwise(col(s"_b_$c")).as(c)): _*)
            Manifest(v, m.schema, spec, kept ++ writeData(out, v, spec))
        }
      }
    } finally last.unpersist()
  }

  /** OPTIMIZE (Delta `OPTIMIZE` / Iceberg `rewrite_data_files`):
    * bin-pack the current snapshot's file set toward `targetBytes` per
    * file as a NEW commit that changes no data. Per bucket (unbucketed
    * `-1` counts as a bucket), the bin-pack target is
    * ceil(totalBytes / targetBytes) files — the same running-sum
    * division as the `etl_compaction_plan` operator; a bucket already
    * at or under its target is re-referenced byte-identical, so
    * OPTIMIZE cost ∝ |fragmented buckets|, never |table|. On a
    * bucketed table, unbucketed files selected for rewrite are FOLDED
    * INTO the bucket layout (later merges then prune them). Old
    * versions stay fully time-travelable until vacuum; an OPTIMIZE
    * version's files are ordinary COW files, so vacuum retention
    * applies unchanged. Returns the committed version (the current one,
    * unchanged, when no bucket is fragmented). */
  def optimize(targetBytes: Long = 128L * 1024 * 1024): Long = {
    val m = currentManifest.getOrElse(
      throw new IllegalStateException("optimize on a table with no commits"))
    if (m.files.isEmpty) return m.version
    val f = fc
    val sized = m.files.map { case (b, rel) =>
      (b, rel, f.getFileStatus(new Path(s"$dir/$rel")).getLen) }
    def ideal(fs: Seq[(Int, String, Long)]): Long =
      math.max(1L, (fs.map(_._3).sum + targetBytes - 1) / targetBytes)
    val byBucket = sized.groupBy(_._1)
    val fragmented = byBucket.filter { case (_, fs) => fs.size > ideal(fs) }
    if (fragmented.isEmpty) return m.version
    val rewrite = fragmented.values.flatten.toSeq
    val keep = m.files.filterNot { case (b, _) => fragmented.contains(b) }
    val rows = spark.read.schema(m.schema)
      .parquet(rewrite.map(x => s"$dir/${x._2}"): _*)
    // bytes→rows conversion for maxRecordsPerFile: one count over the
    // fragmented subset only (maintenance-time cost, not a table scan)
    val nRows = rows.count()
    val nBytes = rewrite.map(_._3).sum
    val rowsPerFile =
      if (nRows == 0L) 1L
      else math.max(1L, targetBytes * nRows / math.max(1L, nBytes))
    commit(None) { v =>
      val dataDir = s"$dir/data/v=$v"
      m.bucketing match {
        case Some((cols, b)) =>
          // repartition BY THE BUCKET COLUMN: every row of a bucket
          // lands in one task, so each bucket dir gets exactly
          // ceil(bucketRows / rowsPerFile) files — the bin-pack shape
          rows.withColumn(BucketCol, pmod(hash(cols.map(col): _*), lit(b)))
            .repartition(b, col(BucketCol))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rowsPerFile)
            .partitionBy(BucketCol).parquet(dataDir)
        case None =>
          rows.repartition(ideal(rewrite).toInt)
            .write.mode("overwrite").parquet(dataDir)
      }
      Manifest(v, m.schema, m.bucketing, keep ++ listDataFiles(dataDir))
    }
  }

  def vacuum(retainVersions: Int = 2): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val cv = currentVersion.getOrElse(return 0)
    val vs = versions
    // Retention is anchored on the COMMITTED POINTER, not the manifest
    // listing: a crash inside the commit window (manifest v+1 written,
    // pointer flip lost) leaves an orphan manifest that a listing-based
    // newest-N would count as the newest version — vacuum(1) would then
    // keep only the orphan and delete the pointed-to version's manifest
    // and files, leaving currentVersion unreadable. Manifests above the
    // pointer are uncommitted residue: they never count toward
    // retention, are left on disk (an idempotent retry may complete
    // them), and their file references are treated as live.
    val committed = vs.filter(_ <= cv)
    val orphans = vs.filter(_ > cv)
    val keep = committed.takeRight(retainVersions)
    val drop = committed.dropRight(retainVersions)
    require(keep.contains(cv),
      s"vacuum invariant violated: pointer v=$cv not in keep set $keep")
    if (drop.isEmpty) return 0
    // a file re-referenced by ANY retained manifest is live — COW means
    // old versions' files routinely outlive their writer version
    val live = (keep ++ orphans).flatMap(v => readManifest(v).files.map(_._2)).toSet
    val dead = drop.flatMap(v => readManifest(v).files.map(_._2))
      .distinct.filterNot(live)
    val f = fc
    var n = 0
    dead.foreach { rel =>
      val p = new Path(s"$dir/$rel")
      if (f.util.exists(p)) { f.delete(p, false); n += 1 }
    }
    drop.foreach { v =>
      if (f.util.exists(manifestPath(v))) f.delete(manifestPath(v), false)
    }
    n
  }
}

object ParquetVersionedTable {
  /** Reserved partition-directory column carrying the key-hash bucket;
    * stripped from file contents by partitionBy, recovered from the
    * directory name at manifest-build time. */
  private[sources] val BucketCol = "_gbkt"
  /** Bucket id for files written without a bucketing spec (pre-merge
    * appends/overwrites) — such files can hold any key, so every merge
    * folds them in. */
  private[sources] val UnbucketedId = -1
  private[sources] case class Manifest(version: Long, schema: StructType,
      bucketing: Option[(Seq[String], Int)], files: Seq[(Int, String)])
}
