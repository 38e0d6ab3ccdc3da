package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Quantization
import graft.operators.{AnnLsh, Crud, Knn}
import graft.query.FilterCompiler

/** Options mirroring the reference's CollectionOptions
  * (collection.go:30-52). `lshTables` > 1 switches precision="medium"
  * searches to the LSH forest (the analogue of the reference's
  * `numTrees` forest, lshtree.go:88): L independent `lshPlanes`-plane
  * tables, candidates from the union of the query's L buckets —
  * recall compounds with L while each table's probe stays narrow.
  * `lshProbes` > 1 adds query-directed multiprobe (Lv et al. 2007):
  * each table also probes its lowest-|margin| bit flips — the
  * analogue of the reference's boundary backtracking
  * (lshtree.go:283-336). Same recall/mass frontier with ~probes-x
  * fewer tables, so a persisted forest index shrinks accordingly. */
final case class CollectionOptions(
    name: String,
    dimensionCount: Int,
    distanceMethod: Knn.Metric = Knn.Cosine,
    quantization: Int = 64,
    lshPlanes: Int = 4,
    lshTables: Int = 1,
    lshProbes: Int = 1)

/** Search arguments mirroring the reference's SearchArgs
  * (collection.go:160-183): k-NN, radius, exhaustive listing with
  * pagination, a filter in the query DSL, and precision "exact" vs
  * "medium" (ANN via LSH buckets). */
final case class SearchArgs(
    vector: Option[Seq[Double]] = None,
    k: Int = 0,
    radius: Double = 0.0,
    limit: Int = 0,
    offset: Int = 0,
    precision: String = "medium",
    filter: Option[String] = None)

/** Search results with scan telemetry — the reference's
  * `SearchResults` (collection.go:125-135): the matching rows plus the
  * percentage of the corpus that was touched to produce them (100 for
  * exact/radius/listing scans, the probed-bucket mass for
  * precision="medium" ANN). */
final case class SearchResults(results: DataFrame, percentSearched: Double)

/** An embeddable vector collection over a parquet-backed versioned
  * log — the Spark-native re-expression of the reference's
  * `Collection` (collection.go): same operations, but every mutation
  * is an appended batch and every read is a declarative plan over
  * "latest version per id, minus tombstones".
  *
  * Storage layout (`path/`): parquet files with columns
  * (id long, vector array<double>, metadata string-json,
  * version long, deleted boolean). Each read takes one snapshot of the
  * live log: its directory listed once, and per part file the
  * version maximum and row count from the parquet footer. A freshly
  * compacted generation (every row at version 0, no delta appended
  * since) already holds one row per id, so it is served as a plain
  * filtered scan — no window, no shuffle — and counted from its
  * footers without a job; only a log with appended deltas pays the
  * "latest version per id" window, which shuffles the whole log.
  * At 100 TB the log would be partitioned/bucketed by id range and
  * compacted periodically, so the window would run only between a
  * write and the next compaction.
  */
final class Collection(spark: SparkSession, val options: CollectionOptions, path: String) {
  import Collection.{Footer, LogSchema, Snapshot}

  private def emptyBatch(): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LogSchema)

  // resolve the filesystem FROM the collection path, not the default
  // scheme: a collection on s3a://... must list/delete on that store,
  // not on whatever fs.defaultFS points at
  private def fs() = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation dirs produced by [[compact]]: `path.genN`. A
    * generation is only real once its `_SUCCESS` marker exists (the
    * last file Spark's committer writes), so "which data is current"
    * flips atomically with that marker — a crash at ANY point of a
    * compaction leaves the previous generation fully readable. */
  private def completeGens(): Seq[Int] = {
    val f = fs()
    val p = new org.apache.hadoop.fs.Path(path)
    val parent = p.getParent
    if (parent == null || !f.exists(parent)) return Seq.empty
    val prefix = p.getName + ".gen"
    f.listStatus(parent).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap(g => g.getName.stripPrefix(prefix).toIntOption.map(n => (n, g)))
      .filter { case (_, g) =>
        f.exists(new org.apache.hadoop.fs.Path(g, "_SUCCESS")) }
      .map(_._1)
  }

  /** Where the live log lives: the highest COMPLETE generation, or the
    * original `path` before any compaction. */
  private def dataPath(): String =
    completeGens().maxOption.map(n => s"$path.gen$n").getOrElse(path)

  /** The log under `dir`, read with its known schema (inference would
    * launch a job per read). */
  private def read(dir: String): DataFrame =
    spark.read.schema(LogSchema).parquet(dir)

  /** Footer summaries by (file, length, modification time): part files
    * are written once and never modified, so a summary never goes
    * stale, and a search re-opens no footer. Each snapshot keeps only
    * the live files' entries. */
  @volatile private var footers = Map.empty[(String, Long, Long), Footer]

  /** Footer statistics — O(files) metadata reads, zero row data: every
    * appended batch carries one constant version, so file-level
    * version maxima are exact. A footer that cannot be read, or that
    * lacks version statistics, summarizes as unknown. */
  private def footer(st: org.apache.hadoop.fs.FileStatus): Footer = {
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      try {
        var mx = -1L
        var rows = 0L
        reader.getFooter.getBlocks.forEach { b =>
          rows += b.getRowCount
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == "version") {
              val s = c.getStatistics
              if (s == null || !s.hasNonNullValue)
                throw new IllegalStateException(s"no version stats in ${st.getPath}")
              mx = math.max(mx, s.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            }
          }
        }
        Footer(Some(mx), rows)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => Footer(None, 0L) }
  }

  /** One look at the live log: its directory resolved and listed once,
    * with every part file's footer summary. */
  private def snapshot(): Snapshot = {
    val dir = dataPath()
    val p = new org.apache.hadoop.fs.Path(dir)
    val listed =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val parts = listed.filter { st =>
      val n = st.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_")
    }
    val known = footers
    val summaries = parts.map { st =>
      val key = (st.getPath.toString, st.getLen, st.getModificationTime)
      key -> known.getOrElse(key, footer(st))
    }
    // an unknown summary is read again next time: it may be transient
    footers = summaries.filter(_._2.maxVersion.isDefined).toMap
    Snapshot(dir, dir != path, summaries.map(_._2))
  }

  /** The next batch's version. A generation's rows are version 0, so
    * its deltas start at 1 — also after a compaction to zero rows,
    * whose footer holds no version at all; otherwise that append would
    * look like compacted rows. Falls back to a full aggregate only if
    * a footer lacks stats for the column. */
  private def nextVersion(): Long = {
    val s = snapshot()
    val mx =
      if (s.files.forall(_.maxVersion.isDefined))
        s.files.flatMap(_.maxVersion).maxOption.getOrElse(-1L)
      else read(s.dir).agg(coalesce(max(col("version")), lit(-1L))).head().getLong(0)
    if (s.generation) math.max(mx + 1, 1L) else mx + 1
  }

  /** Mutations serialize on this per-collection lock — the analogue of
    * the reference's per-collection mutex (collection.go lock
    * discipline). Every write is read-version-then-append: two
    * unserialized writers could mint the SAME version for different
    * batches and make "latest version per id" ambiguous, so the
    * critical section spans both steps. Reads stay LOCK-FREE (the
    * reference's RWMutex blocks them): committed parquet files become
    * visible atomically, so a concurrent reader sees a consistent
    * prefix of the mutation log. [[compact]] keeps the previous
    * generation on disk (its retention window, default 1), so a
    * reader holding a plan over the OLD generation across one
    * concurrent compaction still executes it; only back-to-back
    * compactions outrunning the window can invalidate a live plan.
    * On a multi-writer cluster this lock would be a
    * transaction-log protocol instead (single-JVM serving façade
    * contract). */
  private val writeLock = new Object

  private def append(batch: DataFrame): Unit =
    batch.write.mode("append").parquet(dataPath())

  /** AddDocument upsert (collection.go:427): vectors are stored
    * quantized per options (lossy below 32 bits, like the
    * reference). */
  def addDocuments(docs: DataFrame): Unit = writeLock.synchronized {
    val v = nextVersion()
    val vec = options.quantization match {
      case 32 => col("vector").cast("array<float>").cast("array<double>")
      case 64 => col("vector").cast("array<double>")
      case bits => Quantization.dequantize(
        Quantization.quantize(col("vector"), bits), bits)
    }
    append(docs.select(col("id").cast("long"), vec.as("vector"),
      col("metadata").cast("string"), lit(v).as("version"), lit(false).as("deleted")))
  }

  /** UpdateDocument metadata (collection.go:490): rewrite metadata,
    * keep the stored vector. */
  def updateMetadata(id: Long, metadata: String): Unit = writeLock.synchronized {
    val v = nextVersion()
    append(current().filter(col("id") === id)
      .select(col("id"), col("vector"), lit(metadata).as("metadata"),
        lit(v).as("version"), lit(false).as("deleted")))
  }

  /** RemoveDocument (collection.go:511): tombstone append. */
  def removeDocuments(ids: Seq[Long]): Unit = writeLock.synchronized {
    val v = nextVersion()
    append(spark.createDataFrame(ids.map(i => Tuple1(i))).toDF("id")
      .select(col("id").cast("long"), lit(null).cast("array<double>").as("vector"),
        lit(null).cast("string").as("metadata"), lit(v).as("version"),
        lit(true).as("deleted")))
  }

  /** Latest-version view minus tombstones. */
  def current(): DataFrame = view(snapshot())

  /** A compacted snapshot's rows are its view; the version filter also
    * keeps out a delta appended after the snapshot was taken. Any
    * other log takes the "latest version per id" window. */
  private def view(s: Snapshot): DataFrame = {
    val live =
      if (s.files.isEmpty) emptyBatch()
      else if (s.compacted) read(s.dir).filter(col("version") === 0L && !col("deleted"))
      else Crud.currentView(read(s.dir), "id", "version", "deleted")
    live.select(col("id"), col("vector"), col("metadata"))
  }

  /** Live documents in a snapshot: the footer row counts when it is
    * compacted (no job), else a count over the window. */
  private def count(s: Snapshot): Long =
    if (s.compacted) s.rows else view(s).count()

  def documentCount(): Long = count(snapshot())

  /** Driver-sized BY CONTRACT: mirrors the reference API
    * (collection.go:326 returns `[]uint64` in memory). At scale use the
    * DataFrame surface instead — `current().select("id")` — which never
    * collects. */
  def getAllIds(): Seq[Long] =
    current().select(col("id")).orderBy(col("id")).collect().map(_.getLong(0)).toSeq

  /** The reference's single search endpoint (collection.go:569):
    * dispatches on (k, radius, precision) exactly like the Go code. */
  def search(args: SearchArgs): DataFrame = searchOn(filtered(snapshot(), args), args)

  /** The snapshot's view under the search's metadata filter. */
  private def filtered(s: Snapshot, args: SearchArgs): DataFrame = {
    val base = view(s)
    args.filter match {
      case Some(f) => base.filter(FilterCompiler.compileJson(f, col("metadata")))
      case None => base
    }
  }

  private def searchOn(filtered: DataFrame, args: SearchArgs): DataFrame =
    (args.vector, args.k, args.radius) match {
      case (None, _, _) | (_, 0, 0.0) =>
        // exhaustive listing with pagination, stable id order; no
        // limit -> plain sorted scan (a limit of MaxValue would build
        // a corpus-sized TakeOrdered heap)
        if (args.limit > 0)
          Knn.listRecords(filtered, "id", None, args.limit, args.offset)
        else if (args.offset > 0) {
          // unbounded listing from an offset: anti-join away the first
          // `offset` ids (a TakeOrdered head, broadcastable) instead of
          // ranking the whole corpus in one global window
          val head = filtered.orderBy(col("id").asc).limit(args.offset)
            .select(col("id"))
          filtered.join(broadcast(head), Seq("id"), "left_anti")
            .orderBy(col("id").asc)
        } else filtered.orderBy(col("id").asc)
      case (Some(q), k, 0.0) =>
        val qdf = spark.createDataFrame(Seq(Tuple1(q))).toDF("qvec")
        if (args.precision == "exact")
          Knn.knn(filtered, "vector", qdf, k, options.distanceMethod, "id")
        else if (options.lshTables > 1)
          AnnLsh.knnForest(filtered, "vector", qdf, k, options.lshTables,
            options.lshPlanes, options.dimensionCount, options.distanceMethod, "id",
            options.lshProbes)
        else
          AnnLsh.knn(filtered, "vector", qdf, k, options.lshPlanes,
            options.dimensionCount, options.distanceMethod, "id")
      case (Some(q), _, r) =>
        val qdf = spark.createDataFrame(Seq(Tuple1(q))).toDF("qvec")
        if (args.precision == "exact")
          Knn.radius(filtered, "vector", qdf, r, options.distanceMethod)
        else if (options.lshTables > 1)
          AnnLsh.radiusForest(filtered, "vector", qdf, r, options.lshTables,
            options.lshPlanes, options.dimensionCount, options.distanceMethod,
            options.lshProbes)
        else
          // medium: radius through the LSH probe, like the reference's
          // index.search with a radius (collection.go:690)
          AnnLsh.radius(filtered, "vector", qdf, r, options.lshPlanes,
            options.dimensionCount, options.distanceMethod)
    }

  /** As [[search]], also reporting PercentSearched
    * (collection.go:569-712): exhaustive modes touch the whole filtered
    * corpus (100%, or 0 for an empty collection); precision="medium"
    * touches only the query's LSH bucket(s), and the fraction is that
    * share of the filtered corpus. The result and the share come from
    * ONE snapshot and one filtered view: on a compacted generation
    * neither plans a window, and the exhaustive modes' emptiness check
    * reads footers only. The medium share is still its own aggregate
    * job over the filtered view. */
  def searchWithStats(args: SearchArgs): SearchResults = {
    val s = snapshot()
    val data = filtered(s, args)
    val results = searchOn(data, args)
    def probedPct(q: Seq[Double], multiprobe: Boolean): Double = {
      val qdf = spark.createDataFrame(Seq(Tuple1(q))).toDF("qvec")
      if (options.lshTables > 1)
        AnnLsh.percentSearchedForest(data, "vector", qdf,
          options.lshTables, options.lshPlanes, options.dimensionCount,
          options.lshProbes)
      else
        AnnLsh.percentSearched(data, "vector", qdf,
          options.lshPlanes, options.dimensionCount, multiprobe)
    }
    val pct = (args.vector, args.k, args.radius) match {
      case (Some(q), k, 0.0) if k > 0 && args.precision != "exact" =>
        probedPct(q, multiprobe = false)
      case (Some(q), _, r) if r > 0.0 && args.precision != "exact" =>
        probedPct(q, multiprobe = true) // radius probes Hamming-1 too
      case _ => if (count(s) == 0L) 0.0 else 100.0
    }
    SearchResults(results, pct)
  }

  /** GetDocument (collection.go:463). */
  def getDocument(id: Long): Option[(Seq[Double], String)] =
    current().filter(col("id") === id)
      .select(col("vector"), col("metadata"))
      .collect().headOption
      .map(r => (r.getSeq[Double](0), r.getString(1)))

  /** computeAverageDistance (collection.go:348): mean pairwise
    * distance over a deterministic sample (the `sampleIds` lowest ids
    * — engine-reproducible, unlike the reference's RNG sampling). */
  def averageDistance(sampleIds: Int): Double = {
    import graft.functions.Vectors
    val sample = current().orderBy(col("id")).limit(sampleIds)
      .select(col("id"), col("vector"))
    val a = sample.select(col("id").as("i"), col("vector").as("va"))
    val b = sample.select(col("id").as("j"), col("vector").as("vb"))
    val d = Knn.distCol(options.distanceMethod, col("va"), col("vb"))
    val row = a.join(broadcast(b), col("i") < col("j"))
      .agg(avg(d)).collect().head
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** ComputeStats (collection.go:67): counts and storage footprint. */
  def stats(): (Long, Int, Long) = {
    val n = documentCount()
    val bytesPerVec = options.quantization / 8 * options.dimensionCount
    (n, options.dimensionCount, n * bytesPerVec)
  }

  /** DumpIndex (dump.go): export the current view for inspection /
    * backup — json lines with id, vector, metadata. */
  def dump(outPath: String): Unit =
    current().orderBy(col("id")).write.mode("overwrite").json(outPath)

  /** ExportJSON (dump.go:48) parity: ONE deterministic local file —
    * the first line is the collection's options (the exact JSON
    * [[Collection.create]] persists), then one JSON line per record
    * in id order. A debugging/backup affordance by design (the
    * reference writes a single stream too), so it is driver-written —
    * but it STREAMS via `toLocalIterator` (the driver holds one
    * partition of rows, never the collection) and each line is
    * Spark's own row-JSON, so field escaping matches the distributed
    * [[dump]] byte for byte. [[Collection.importDumpFile]] is the
    * inverse (ImportJSON, dump.go:138). */
  def dumpFile(outFile: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(outFile)
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // write-then-rename: creating the destination directly would
    // truncate the PREVIOUS backup before the dump query produced a
    // row, so a mid-dump failure (executor loss, disk full) would
    // destroy the only good copy along with the new one (review r19)
    val tmp = new org.apache.hadoop.fs.Path(outFile + ".tmp")
    // a plain Writer, NOT PrintWriter: PrintWriter swallows IO errors
    // into an internal flag, so a disk-full mid-dump would return
    // normally and leave a silently truncated backup (review r19)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      hfs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
    var ok = false
    try {
      out.write(Collection.optionsJson(options)); out.write('\n')
      val it = current().orderBy(col("id"))
        .select(col("id"), col("vector"), col("metadata"))
        .toJSON.toLocalIterator()
      while (it.hasNext) { out.write(it.next()); out.write('\n') }
      ok = true
    } finally {
      out.close()
      if (ok) {
        hfs.delete(mp, false)
        require(hfs.rename(tmp, mp), s"rename $tmp -> $mp failed")
      } else hfs.delete(tmp, false)
    }
  }

  /** The COMPLETE generation numbers currently on disk, oldest first
    * — the observable face of [[compact]]'s retention window (the
    * serving façade surfaces it in stats so an operator can see how
    * many superseded generations a reader's pre-compact plan can
    * still resolve). Empty before the first compaction. */
  def generations: Seq[Int] = completeGens().sorted

  /** Compact the versioned log: collapse to the current view at
    * version 0 and drop superseded rows and tombstones. The log's
    * read cost is O(total mutations) until compacted; run this
    * periodically like any LSM/merge-on-read store.
    *
    * Crash-safe by construction (single writer): the compacted view
    * is written to a NEW generation dir `path.genN+1`; it only
    * becomes current when its `_SUCCESS` marker lands (the last write
    * of the job), and superseded data is deleted strictly after.
    * A crash at any step leaves the previous generation complete and
    * served — there is no delete-before-rename window (the old
    * implementation destroyed the only copy if it died between
    * `delete(dst)` and `rename(tmp, dst)`).
    *
    * `retainGenerations` keeps the newest N superseded generations on
    * disk (default 1): a reader whose plan resolved to the PREVIOUS
    * generation before this compact started can still execute it
    * afterwards — the filesystem analogue of the RWMutex that lets
    * the reference serve reads across a rewrite (collection.go;
    * VERDICT r12 #8). Older generations — including, eventually, the
    * original bare-path log, which counts as the oldest generation —
    * fall out of the window on subsequent compactions. Pass 0 to
    * reclaim everything immediately (no concurrent readers). */
  def compact(retainGenerations: Int = 1): Unit = writeLock.synchronized {
    require(retainGenerations >= 0,
      s"retainGenerations must be >= 0, got $retainGenerations")
    val f = fs()
    val next = completeGens().maxOption.getOrElse(0) + 1
    // mode=overwrite clears any partial dir a crashed attempt left
    current()
      .select(col("id"), col("vector"), col("metadata"),
        lit(0L).as("version"), lit(false).as("deleted"))
      .write.mode("overwrite").parquet(s"$path.gen$next")
    // the new generation is complete (readers already resolve to it);
    // now — and only now — retire generations beyond the retention
    // window, oldest first. The bare `path` log participates so it is
    // never orphaned: a compaction that crashed after its _SUCCESS
    // but before these deletes merely leaves one extra window entry
    // for the next compact to collect.
    val older = completeGens().filter(_ < next).sorted.map(n => s"$path.gen$n")
    val retired =
      (if (f.exists(new org.apache.hadoop.fs.Path(path))) Seq(path) else Nil) ++
        older
    retired.dropRight(retainGenerations).foreach { p =>
      f.delete(new org.apache.hadoop.fs.Path(p), true)
    }
  }
}

object Collection {

  /** The log's columns: what every batch appends and every read
    * declares. */
  private val LogSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", LongType), StructField("vector", ArrayType(DoubleType)),
      StructField("metadata", StringType), StructField("version", LongType),
      StructField("deleted", BooleanType)))
  }

  /** One part file's footer summary: its largest version (None when
    * the footer is unreadable or lacks version statistics; -1 when it
    * holds no row group) and its row count. */
  private final case class Footer(maxVersion: Option[Long], rows: Long)

  /** The live log as one read sees it: its directory, whether that is
    * a compacted generation rather than the original log, and its part
    * files' footers. */
  private final case class Snapshot(dir: String, generation: Boolean, files: Seq[Footer]) {
    /** A generation with no delta appended since its compaction: every
      * row is at version 0 (deltas into a generation start at 1). */
    def compacted: Boolean = generation && files.forall(_.maxVersion.exists(_ <= 0L))
    def rows: Long = files.map(_.rows).sum
  }

  private def metaPath(path: String) = s"$path.options.json"

  /** NewCollection (collection.go:224): persists the options next to
    * the log (the reference stores them in the spanfile header) so a
    * later [[open]] needs only the path. */
  /** The persisted options JSON — shared by [[create]]'s sidecar and
    * [[Collection#dumpFile]]'s header line, so a dump's first line
    * always round-trips through the same reader as a sidecar.
    * Single-line (newlines collapse) so the dump stays one JSON
    * object per line. */
  private[core] def optionsJson(options: CollectionOptions): String =
    s"""{"name": ${q(options.name)}, "dimensionCount": ${options.dimensionCount},
       | "distanceMethod": ${q(options.distanceMethod match {
           case Knn.Cosine => "cosine"; case Knn.Euclidean => "euclidean" })},
       | "quantization": ${options.quantization}, "lshPlanes": ${options.lshPlanes},
       | "lshTables": ${options.lshTables}, "lshProbes": ${options.lshProbes}}"""
      .stripMargin.replace("\n", "")

  def create(spark: SparkSession, options: CollectionOptions, path: String): Collection = {
    val json = optionsJson(options)
    val mp = new org.apache.hadoop.fs.Path(metaPath(path))
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
    new Collection(spark, options, path)
  }

  /** Recreate a collection from a [[Collection#dump]] backup — the
    * reference's ImportJSON (dump.go:138): create with the given
    * options, then load every dumped record. */
  def importDump(spark: SparkSession, options: CollectionOptions,
                 path: String, dumpPath: String): Collection = {
    val c = create(spark, options, path)
    c.addDocuments(graft.sources.Sources.dumpRecords(spark, dumpPath))
    c
  }

  /** Inverse of [[Collection#dumpFile]]: the first line carries the
    * options (no separate options argument — the dump is
    * self-describing, like the reference's single-stream ImportJSON),
    * the rest are records. The record frame is read DISTRIBUTED
    * (spark.read.json over the whole file; the header row surfaces
    * with a null id and is filtered out — options fields and record
    * fields share no column names). */
  def importDumpFile(spark: SparkSession, path: String,
                     dumpFile: String): Collection = {
    val mp = new org.apache.hadoop.fs.Path(dumpFile)
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      hfs.open(mp), java.nio.charset.StandardCharsets.UTF_8))
    val (header, hasRecordLines) =
      try {
        val h = in.readLine()
        val second = if (h == null) null else in.readLine()
        (h, second != null && second.nonEmpty)
      } finally in.close()
    require(header != null && header.contains("dimensionCount"),
      s"$dumpFile does not start with a collection-options line")
    // the header is parsed DRIVER-SIDE through the SAME parser as
    // the .options.json sidecar — the first cut round-tripped it
    // through a temp file + spark.read.json, which resolved the temp
    // path against the session-DEFAULT filesystem while writing it on
    // the dump's filesystem (cross-FS imports read a missing — or
    // worse, a stale — header), and hand-rolled a second, stricter
    // parser that rejected pre-lshTables headers open() accepts
    // (review r19)
    val c = create(spark, parseOptionsJson(header), path)
    if (hasRecordLines) {
      val recs = spark.read.json(dumpFile)
      // record lines exist, so a missing `id` column means the lines
      // are corrupt (encoding damage, foreign format) — fail loudly
      // instead of "successfully" restoring an empty collection; only
      // a header-ONLY dump (an empty collection is a legal dump)
      // skips the load (review r19)
      require(recs.columns.contains("id"),
        s"$dumpFile has record lines but no 'id' field — corrupt dump?")
      c.addDocuments(recs
        .filter(org.apache.spark.sql.functions.col("id").isNotNull)
        .select(org.apache.spark.sql.functions.col("id").cast("long"),
          org.apache.spark.sql.functions.col("vector")
            .cast("array<double>"),
          org.apache.spark.sql.functions.col("metadata").cast("string")))
    }
    c
  }

  /** The single parser for the options JSON — the `.options.json`
    * sidecar ([[open]]) and a dump's header line ([[importDumpFile]])
    * are the SAME format and must never drift (review r19: two
    * independent parsers had different tolerances). Required fields
    * fail with a named error (never a bare NPE); numeric fields must
    * BE numbers (Jackson's asInt would coerce garbage to 0);
    * lshTables/lshProbes default to 1 for pre-forest-era files. */
  private[core] def parseOptionsJson(json: String): CollectionOptions = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    def str(f: String): String = {
      require(node.hasNonNull(f) && node.get(f).isTextual,
        s"options json missing string field '$f'")
      node.get(f).asText
    }
    def num(f: String, default: Option[Int] = None): Int =
      if (!node.has(f)) default.getOrElse {
        throw new IllegalArgumentException(
          s"options json missing numeric field '$f'")
      }
      else {
        require(node.get(f).isNumber,
          s"options json field '$f' is not a number")
        node.get(f).asInt
      }
    CollectionOptions(
      str("name"), num("dimensionCount"),
      if (str("distanceMethod") == "euclidean") Knn.Euclidean
      else Knn.Cosine,
      num("quantization"), num("lshPlanes"),
      num("lshTables", Some(1)), num("lshProbes", Some(1)))
  }

  /** The persisted options of the collection at `path`, read
    * driver-side from the sidecar's OWN filesystem through
    * [[parseOptionsJson]] — the same parser a dump header goes through
    * (one format, one parser; Jackson reads the older multi-line
    * sidecars as readily as the single-line form, and a driver-side
    * read replaces a whole Spark json job for a one-object file). */
  private def readOptions(spark: SparkSession, path: String): CollectionOptions = {
    val mp = new org.apache.hadoop.fs.Path(metaPath(path))
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = hfs.open(mp)
    val json = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    parseOptionsJson(json)
  }

  /** Reopen an existing collection from its persisted options. Older
    * collections predate lshTables/lshProbes; absent -> single-table,
    * single-probe (the parser's defaults). */
  def open(spark: SparkSession, path: String): Collection =
    new Collection(spark, readOptions(spark, path), path)

  private def q(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""

  // ---- collection registry (the reference server's collection
  // directory, rest.go:67 handleCollections / :176 DELETE) ----

  /** All collections under `rootDir`, by their persisted options
    * files. Returns (name, path) pairs, name-sorted. */
  def list(spark: SparkSession, rootDir: String): Seq[(String, String)] = {
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .map(_.getPath)
      .filter(_.getName.endsWith(".options.json"))
      .map { p =>
        val dataPath = p.toString.stripSuffix(".options.json")
        (readOptions(spark, dataPath).name, dataPath)
      }
      .sortBy(_._1)
  }

  /** Drop a collection: delete its log (all generations) and options
    * file (rest.go:176 DELETE /api/v1/collections/{name}). */
  def drop(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens =
      if (p.getParent != null && fs.exists(p.getParent))
        fs.listStatus(p.getParent).toSeq.map(_.getPath)
          .filter(_.getName.startsWith(p.getName + ".gen"))
      else Seq.empty
    val genDeleted = gens.map(g => fs.delete(g, true)).exists(identity)
    val data = fs.delete(p, true)
    val meta = fs.delete(new org.apache.hadoop.fs.Path(metaPath(path)), false)
    data || meta || genDeleted
  }
}
