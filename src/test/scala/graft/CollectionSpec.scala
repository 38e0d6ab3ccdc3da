package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{Collection, CollectionOptions, SearchArgs}
import graft.operators.{Crud, Knn}

class CollectionSpec extends SparkSpec {
  import spark.implicits._

  private def newCollection(quantization: Int = 64): Collection =
    newCollectionAt(quantization)._1

  /** A new collection and the path of its log. */
  private def newCollectionAt(quantization: Int = 64): (Collection, String) = {
    val dir = Files.createTempDirectory("graft-coll").toFile
    dir.delete()
    (Collection.create(spark,
      CollectionOptions("test", dimensionCount = 4,
        distanceMethod = Knn.Euclidean, quantization = quantization),
      dir.getAbsolutePath), dir.getAbsolutePath)
  }

  private def docs3 = Seq(
    (1L, Seq(0.0, 0.0, 0.0, 0.0), """{"tag": "a"}"""),
    (2L, Seq(1.0, 0.0, 0.0, 0.0), """{"tag": "b"}"""),
    (3L, Seq(0.0, 5.0, 0.0, 0.0), """{"tag": "a"}""")
  ).toDF("id", "vector", "metadata")

  test("add / count / ids / remove round-trip (reference CRUD surface)") {
    val c = newCollection()
    c.addDocuments(docs3)
    assert(c.documentCount() == 3)
    assert(c.getAllIds() == Seq(1L, 2L, 3L))
    c.removeDocuments(Seq(2L))
    assert(c.getAllIds() == Seq(1L, 3L))
    // re-adding a removed id resurrects it (latest version wins)
    c.addDocuments(Seq((2L, Seq(9.0, 9.0, 9.0, 9.0), "{}")).toDF("id", "vector", "metadata"))
    assert(c.getAllIds() == Seq(1L, 2L, 3L))
  }

  test("dumpFile/importDumpFile: self-describing single-file round-trip") {
    val c = newCollection(quantization = 32)
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L)) // the dump is the CURRENT view
    val f = Files.createTempDirectory("graft-dump").toFile
      .getAbsolutePath + "/coll.jsonl"
    c.dumpFile(f)
    // deterministic shape: line 1 is the options header, then one
    // record line per live id, in id order
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
    assert(lines.head.contains("\"dimensionCount\": 4") &&
      lines.head.contains("euclidean"))
    assert(lines.tail.size == 2 &&
      lines.tail.forall(_.startsWith("{\"id\":")))
    // and dumping again is byte-identical (ordered, no randomness)
    val f2 = f + ".again"
    c.dumpFile(f2)
    assert(scala.io.Source.fromFile(f2, "UTF-8").mkString ==
      scala.io.Source.fromFile(f, "UTF-8").mkString)
    // the import twin needs NO options argument: the dump describes
    // itself, and the restored collection serves the same view
    val dir2 = Files.createTempDirectory("graft-imp").toFile
    dir2.delete()
    val c2 = Collection.importDumpFile(spark, dir2.getAbsolutePath, f)
    assert(c2.options.quantization == 32 &&
      c2.options.distanceMethod == Knn.Euclidean)
    assert(c2.getAllIds() == Seq(1L, 3L))
    val got = c2.current().orderBy("id")
      .select("id", "vector", "metadata")
      .as[(Long, Seq[Double], String)].collect().toSeq
    val want = c.current().orderBy("id")
      .select("id", "vector", "metadata")
      .as[(Long, Seq[Double], String)].collect().toSeq
    assert(got == want)
    // a header-only dump (empty collection) is a legal state the
    // round-trip must be total over (review r19: the first cut threw
    // UNRESOLVED_COLUMN on import because no record line ever
    // contributed an `id` to the inferred schema)
    c.removeDocuments(Seq(1L, 3L))
    val f3 = f + ".empty"
    c.dumpFile(f3)
    val dir3 = Files.createTempDirectory("graft-imp-e").toFile
    dir3.delete()
    val c3 = Collection.importDumpFile(spark, dir3.getAbsolutePath, f3)
    assert(c3.documentCount() == 0 && c3.options.quantization == 32)
  }

  test("updateMetadata keeps vector, swaps metadata") {
    val c = newCollection()
    c.addDocuments(docs3)
    c.updateMetadata(1L, """{"tag": "z"}""")
    val row = c.current().filter(col("id") === 1L)
      .select("metadata", "vector").as[(String, Seq[Double])].head()
    assert(row._1 == """{"tag": "z"}""")
    assert(row._2 == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("exact knn search with DSL filter") {
    val c = newCollection()
    c.addDocuments(docs3)
    val got = c.search(SearchArgs(vector = Some(Seq(0.1, 0.0, 0.0, 0.0)),
        k = 2, precision = "exact", filter = Some("tag == 'a'")))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L)) // id 2 filtered out despite being closer
  }

  test("radius search and exhaustive listing with pagination") {
    val c = newCollection()
    c.addDocuments(docs3)
    val near = c.search(SearchArgs(vector = Some(Seq(0.0, 0.0, 0.0, 0.0)),
        radius = 2.0, precision = "exact"))
      .select("id").as[Long].collect().toSeq.sorted
    assert(near == Seq(1L, 2L))
    // default (medium) radius probes LSH buckets: a SUBSET of exact,
    // every hit within the radius (reference collection.go:690)
    val medium = c.search(SearchArgs(vector = Some(Seq(0.0, 0.0, 0.0, 0.0)), radius = 2.0))
      .select("id").as[Long].collect().toSeq.sorted
    assert(medium.toSet.subsetOf(near.toSet))
    val page = c.search(SearchArgs(limit = 2, offset = 1))
      .select("id").as[Long].collect().toSeq
    assert(page == Seq(2L, 3L))
  }

  test("searchWithStats reports PercentSearched per search mode") {
    val c = newCollection()
    // enough spread that the 16 LSH buckets are not all one bucket
    val many = (0 until 64).map(i =>
      (i.toLong, Seq(math.sin(i * 1.7), math.cos(i * 2.3),
        math.sin(i * 0.9) - 0.5, math.cos(i * 1.1) - 0.5), "{}"))
    c.addDocuments(many.toDF("id", "vector", "metadata"))
    val qv = Some(Seq(1.0, 0.2, -0.3, 0.1))
    val exact = c.searchWithStats(SearchArgs(vector = qv, k = 3, precision = "exact"))
    assert(exact.percentSearched == 100.0)
    assert(exact.results.count() == 3)
    val medium = c.searchWithStats(SearchArgs(vector = qv, k = 3))
    assert(medium.percentSearched > 0.0 && medium.percentSearched < 100.0,
      s"medium search should touch a strict subset, got ${medium.percentSearched}%")
    val listing = c.searchWithStats(SearchArgs(limit = 5))
    assert(listing.percentSearched == 100.0)
  }

  test("registry: list finds created collections, drop removes them (rest.go:67)") {
    val root = Files.createTempDirectory("graft-registry").toFile.getAbsolutePath
    val c1 = Collection.create(spark, CollectionOptions("alpha", 4), s"$root/alpha")
    Collection.create(spark, CollectionOptions("beta", 4), s"$root/beta")
    c1.addDocuments(docs3)
    assert(Collection.list(spark, root).map(_._1) == Seq("alpha", "beta"))
    assert(Collection.drop(spark, s"$root/alpha"))
    assert(Collection.list(spark, root).map(_._1) == Seq("beta"))
    // dropped collection's data is gone, not just unlisted
    assert(Collection.open(spark, s"$root/beta").documentCount() == 0)
  }

  test("open() restores a created collection from persisted options") {
    val dir = Files.createTempDirectory("graft-open").toFile
    dir.delete()
    val c = Collection.create(spark,
      CollectionOptions("reopen-me", 4, Knn.Euclidean, quantization = 8),
      dir.getAbsolutePath)
    c.addDocuments(docs3)
    val reopened = Collection.open(spark, dir.getAbsolutePath)
    assert(reopened.options == c.options)
    assert(reopened.documentCount() == 3)
    val hit = reopened.search(SearchArgs(vector = Some(Seq(0.9, 0.0, 0.0, 0.0)),
        k = 1, precision = "exact"))
      .select("id").as[Long].head()
    assert(hit == 2L)
  }

  test("compact collapses the log and preserves the current view") {
    val c = newCollection()
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L))
    c.updateMetadata(1L, """{"tag": "z"}""")
    val before = c.current().orderBy(col("id"))
      .select("id", "metadata").as[(Long, String)].collect().toSeq
    c.compact()
    val after = c.current().orderBy(col("id"))
      .select("id", "metadata").as[(Long, String)].collect().toSeq
    assert(before == after)
    assert(c.getAllIds() == Seq(1L, 3L))
    // mutations keep working on the compacted log
    c.addDocuments(Seq((9L, Seq(1.0, 1.0, 1.0, 1.0), "{}")).toDF("id", "vector", "metadata"))
    assert(c.getAllIds() == Seq(1L, 3L, 9L))
  }

  test("precision medium searches the LSH forest when lshTables > 1") {
    val dir = Files.createTempDirectory("graft-coll-forest").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    val c = Collection.create(spark,
      CollectionOptions("forest", dimensionCount = 4, distanceMethod = Knn.Cosine,
        lshPlanes = 3, lshTables = 6), path)
    // 40 deterministic unit-ish vectors around 4 directions
    val bases = Seq(Seq(1.0, 0.1, 0.0, 0.0), Seq(0.0, 1.0, 0.1, 0.0),
      Seq(0.0, 0.1, 1.0, 0.0), Seq(0.1, 0.0, 0.0, 1.0))
    val docs = (0L until 40L).map { i =>
      val base = bases(i.toInt % 4)
      (i, base.zipWithIndex.map { case (v, d) => v + 0.01 * ((i + d) % 5).toDouble },
        "{}")
    }.toDF("id", "vector", "metadata")
    c.addDocuments(docs)
    val q = docs.filter(col("id") === 0).select(col("vector"))
      .as[Seq[Double]].head()
    val res = c.searchWithStats(SearchArgs(vector = Some(q), k = 5))
    val ids = res.results.select("id").as[Long].collect().toSeq
    assert(ids.size == 5 && ids.head == 0L, s"self vector not nearest: $ids")
    assert(res.percentSearched > 0.0 && res.percentSearched <= 100.0)
    // persisted options round-trip the forest config
    val reopened = Collection.open(spark, path)
    assert(reopened.options.lshTables == 6 && reopened.options.lshPlanes == 3)
  }

  test("compact is crash-safe: no step leaves current() without data") {
    val dir = Files.createTempDirectory("graft-coll-crash").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    val c = Collection.create(spark,
      CollectionOptions("cr", dimensionCount = 4, distanceMethod = Knn.Euclidean), path)
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L))
    assert(c.getAllIds() == Seq(1L, 3L))

    // crash A: a compaction died mid-write — a partial generation dir
    // exists without _SUCCESS. Readers must keep serving the old log.
    val partial = new java.io.File(path + ".gen1")
    partial.mkdirs()
    Files.write(new java.io.File(partial, "part-00000.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(c.getAllIds() == Seq(1L, 3L), "partial generation leaked into reads")

    // retrying over the leftover partial dir succeeds; the original
    // log stays on disk as the ONE retained superseded generation
    // (the read-during-compact window, VERDICT r12 #8)
    c.compact()
    assert(c.getAllIds() == Seq(1L, 3L))
    assert(new java.io.File(path + ".gen1/_SUCCESS").exists())
    assert(new java.io.File(path).exists(),
      "previous generation must stay inside the retention window")

    // crash B: a later compaction completed a new generation but died
    // before deleting the old one — both complete, readers take newest
    c.addDocuments(Seq((9L, Seq(1.0, 1.0, 1.0, 1.0), "{}")).toDF("id", "vector", "metadata"))
    c.compact() // -> gen2; window keeps gen1, retires the bare log
    assert(c.getAllIds() == Seq(1L, 3L, 9L))
    assert(!new java.io.File(path).exists(),
      "bare log must fall out of the retention window")
    assert(new java.io.File(path + ".gen1").exists())
    // resurrect a STALE but complete gen1 (simulates delete-not-run)
    Seq((111L, Seq(0.0, 0.0, 0.0, 0.0), "{}", 0L, false))
      .toDF("id", "vector", "metadata", "version", "deleted")
      .write.mode("overwrite").parquet(path + ".gen1")
    assert(c.getAllIds() == Seq(1L, 3L, 9L), "stale lower generation shadowed the newest")
    // the next compaction keeps only the newest superseded generation
    c.compact() // -> gen3; window keeps gen2, retires gen1
    assert(c.getAllIds() == Seq(1L, 3L, 9L))
    assert(!new java.io.File(path + ".gen1").exists())
    assert(new java.io.File(path + ".gen2").exists())
    // retainGenerations = 0 reclaims everything immediately
    c.compact(retainGenerations = 0) // -> gen4
    assert(!new java.io.File(path + ".gen2").exists())
    assert(!new java.io.File(path + ".gen3").exists())
    assert(Collection.drop(spark, path))
    assert(!new java.io.File(path + ".gen4").exists(), "drop must delete generations")
  }

  test("a plan resolved before compact still reads after it (retention window)") {
    val c = newCollection()
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L))
    // resolve a plan against the CURRENT generation, then compact
    // twice-minus-one: one compaction must never invalidate it (the
    // reference serves reads across its rewrite via RWMutex,
    // collection.go; the parquet analogue is the retention window)
    val plan = c.current().select("id")
    c.compact()
    assert(plan.as[Long].collect().sorted.toSeq == Seq(1L, 3L),
      "reader plan over the pre-compact generation must survive one compact")
    // new reads resolve to the compacted generation and agree
    assert(c.getAllIds() == Seq(1L, 3L))
  }

  test("lossy quantization stores dequantized grid values (ref quantization.go)") {
    val c = newCollection(quantization = 8)
    c.addDocuments(Seq((1L, Seq(0.5, -0.25, 0.1, 0.77), "{}")).toDF("id", "vector", "metadata"))
    val v = c.current().select("vector").as[Seq[Double]].head()
    v.zip(Seq(0.5, -0.25, 0.1, 0.77)).foreach { case (q, orig) =>
      assert(math.abs(q - orig) <= 1.0 / 255 + 1e-9)
    }
    val (n, dims, bytes) = c.stats()
    assert(n == 1 && dims == 4 && bytes == 4)
  }

  // ---- the compacted, no-delta read path ----


  /** Every physical operator of `df`'s final plan (executed first, so
    * adaptive execution has fixed it). */
  private def operators(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case p => p }
  }

  /** Spark jobs `body` submits. Status events arrive in order, so once
    * a fence job run after `body` is visible, so is every job of it. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-probe-${System.nanoTime()}"
    sc.setJobGroup(group, "probe")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(group + "-fence", "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group + "-fence").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(group + "-fence").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def spread(n: Int, from: Long = 0L) = (0 until n).map { i =>
    val x = i + from
    (x, Seq(math.sin(x * 1.7) * 3, math.cos(x * 2.3) * 3, math.sin(x * 0.9), x * 0.01),
      s"""{"tag": "${if (x % 2 == 0) "a" else "b"}"}""")
  }.toDF("id", "vector", "metadata")

  test("a compacted collection is served by a scan with no window or shuffle") {
    val c = newCollection()
    c.addDocuments(spread(40))
    c.removeDocuments(Seq(3L))
    val before = operators(c.current())
    assert(before.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "a log with deltas takes the latest-version window")
    c.compact()
    val view = operators(c.current())
    assert(!view.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) &&
      !view.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
      view.mkString("\n"))
    val knn = operators(c.search(SearchArgs(vector = Some(Seq(0.0, 1.0, 0.0, 0.0)),
      k = 5, precision = "exact")))
    assert(!knn.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      knn.mkString("\n"))
    // the one exchange left broadcasts the single query row
    assert(knn.forall {
      case e: org.apache.spark.sql.execution.exchange.Exchange =>
        e.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]
      case _ => true
    }, knn.mkString("\n"))
  }

  test("a compacted collection counts its documents without a Spark job") {
    val c = newCollection()
    c.addDocuments(spread(40))
    c.removeDocuments(Seq(3L, 4L))
    var n = 0L
    assert(jobsDuring { n = c.documentCount() } > 0, "the probe must see a window count")
    assert(n == 38)
    c.compact()
    assert(jobsDuring { n = c.documentCount() } == 0)
    assert(n == 38)
    // an exhaustive search's percent_searched needs only that count
    var pct = 0.0
    assert(jobsDuring {
      pct = c.searchWithStats(SearchArgs(vector = Some(Seq(0.0, 1.0, 0.0, 0.0)),
        k = 3, precision = "exact")).percentSearched
    } == 0)
    assert(pct == 100.0)
  }

  test("reads after compact, insert, update and delete equal the window over the raw log") {
    val (c, path) = newCollectionAt()
    c.addDocuments(spread(40))
    c.removeDocuments(Seq(7L))
    val q = Seq(0.5, 1.0, -0.2, 0.1)
    def check(step: String): Unit = {
      val raw = Crud.currentView(
          spark.read.parquet(s"$path.gen${c.generations.max}"), "id", "version", "deleted")
        .select("id", "vector", "metadata")
        .as[(Long, Seq[Double], String)].collect().sortBy(_._1).toSeq
      val got = c.current().as[(Long, Seq[Double], String)].collect().sortBy(_._1).toSeq
      assert(got == raw, step)
      assert(c.documentCount() == raw.size, step)
      def dist(v: Seq[Double]) = math.sqrt(v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      val ranked = raw.map(r => (r._1, dist(r._2))).sortBy { case (id, d) => (d, id) }
      val knn = c.searchWithStats(SearchArgs(vector = Some(q), k = 5, precision = "exact"))
      assert(knn.results.select("id").as[Long].collect().toSeq == ranked.take(5).map(_._1), step)
      assert(knn.percentSearched == 100.0, step)
      val near = c.search(SearchArgs(vector = Some(q), radius = 2.5, precision = "exact"))
        .select("id").as[Long].collect().sorted.toSeq
      assert(near == ranked.filter(_._2 <= 2.5).map(_._1).sorted, step)
      val page = c.search(SearchArgs(limit = 4, offset = 3, filter = Some("tag == 'a'")))
        .select("id").as[Long].collect().toSeq
      assert(page == raw.filter(_._3.contains("\"a\"")).map(_._1).slice(3, 7), step)
    }
    c.compact()
    check("compacted")
    // new ids plus ids already in the compacted base (5 moves, 7 returns)
    c.addDocuments(spread(3, from = 100L).union(
      Seq((5L, Seq(0.5, 1.0, -0.2, 0.1), """{"tag": "a"}"""),
        (7L, Seq(9.0, 9.0, 9.0, 9.0), """{"tag": "a"}""")).toDF("id", "vector", "metadata")))
    check("insert")
    c.updateMetadata(12L, """{"tag": "b"}""")
    c.updateMetadata(13L, """{"tag": "a"}""")
    check("update")
    c.removeDocuments(Seq(5L, 100L, 20L))
    check("delete")
    c.compact()
    check("compacted again")
  }

  test("an append after a compaction to zero rows starts at version 1") {
    val (c, path) = newCollectionAt()
    c.addDocuments(docs3)
    c.removeDocuments(Seq(1L, 2L, 3L))
    c.compact()
    assert(c.documentCount() == 0 && c.current().isEmpty)
    c.addDocuments(Seq((9L, Seq(1.0, 1.0, 1.0, 1.0), "{}")).toDF("id", "vector", "metadata"))
    val versions = spark.read.parquet(s"$path.gen${c.generations.max}")
      .filter(col("id") === 9L).select("version").as[Long].collect().toSeq
    assert(versions.size == 1 && versions.head >= 1L, versions)
    assert(c.getAllIds() == Seq(9L) && c.documentCount() == 1)
    c.removeDocuments(Seq(9L))
    assert(c.getAllIds().isEmpty && c.documentCount() == 0)
  }
}
