package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.{Collection, CollectionOptions, SearchArgs}
import graft.query.FilterCompiler
import graft.serving.{Api, ApiResponse, HttpBinding}

/** One record as the benchmark generated and sent it; the benchmark's
  * brute-force answers are computed from these. */
final case class Doc(id: Long, vec: Array[Double], cat: Int, score: Int, tags: Seq[String]) {
  val norm: Double = math.sqrt(vec.map(x => x * x).sum)
  def metaJson: String =
    s"""{"cat":$cat,"score":$score,"tags":[${tags.map("\"" + _ + "\"").mkString(",")}]}"""
  /** Bytes of the row's content: id, vector and metadata. */
  def bytes: Long = 8L + 8L * vec.length + metaJson.length
}

/** Seeded records and queries: clustered 32-dim vectors (so nearest
  * neighbours and LSH buckets mean something) with `{cat, score,
  * tags[]}` metadata. Double.toString round-trips, so the server holds
  * exactly the vectors the benchmark keeps. */
final class Gen(seed: Long) {
  val Dim = 32
  private val rnd = new java.util.Random(seed)
  private val centroids = Array.fill(64, Dim)(rnd.nextGaussian())

  def doc(id: Long, r: java.util.Random = rnd): Doc = {
    val c = centroids(r.nextInt(centroids.length))
    Doc(id, c.map(_ + 0.6 * r.nextGaussian()), r.nextInt(8), r.nextInt(100),
      (0 until 5).filter(_ => r.nextInt(3) == 0).map("t" + _))
  }

  def query(r: java.util.Random): Array[Double] = {
    val c = centroids(r.nextInt(centroids.length))
    c.map(_ + 0.6 * r.nextGaussian())
  }
}

/** Brute-force answers and response checks. Distances are the
  * reference's angular "cosine" metric (acos of the cosine / pi). */
object Brute {
  val Eps = 1e-9

  def dist(q: Array[Double], d: Doc): Double = {
    var dot = 0.0
    var qq = 0.0
    var i = 0
    while (i < q.length) { dot += q(i) * d.vec(i); qq += q(i) * q(i); i += 1 }
    math.acos(dot / (math.sqrt(qq) * d.norm)) / math.Pi
  }

  /** Top-k by (distance, id), the order the program promises. */
  def knn(q: Array[Double], docs: Iterable[Doc], k: Int): Seq[(Long, Double)] =
    docs.iterator.map(d => (d.id, dist(q, d))).toSeq
      .sortBy { case (id, dd) => (dd, id) }.take(k)

  def vecJson(v: Array[Double]): String = v.mkString("[", ",", "]")

  /** (id, distance) pairs of a search response. */
  def results(body: JValue): Seq[(Long, Double, JValue)] = (body \ "results") match {
    case JArray(rs) => rs.map { r =>
      val id = (r \ "id") match { case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L }
      val dd = (r \ "distance") match {
        case JDouble(x) => x; case JInt(i) => i.toDouble; case _ => Double.NaN
      }
      (id, dd, r \ "metadata")
    }
    case _ => throw new IllegalStateException("response has no results array")
  }

  /** An exact kNN answer matches the brute-force one: the same
    * distances in order, and every returned id really is at its
    * distance. Ids may swap only within a distance tie. */
  def checkKnn(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
               distOf: Long => Option[Double]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} results, expected ${want.size}")
    else if (got.map(_._1).distinct.size != got.size) Some("duplicate ids")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((gid, gd), (_, wd)), i) if math.abs(gd - wd) > Eps =>
        s"rank $i distance $gd, expected $wd"
      case (((gid, gd), _), i) if !distOf(gid).exists(d => math.abs(d - gd) <= Eps) =>
        s"rank $i id $gid is not at distance $gd"
    }

  /** Every returned row is a known record at its reported distance,
    * in non-decreasing order: what any kNN answer, exact or ANN, must
    * satisfy. */
  def checkConsistent(got: Seq[(Long, Double)], k: Int,
                      distOf: Long => Option[Double]): Option[String] =
    if (got.size > k) Some(s"${got.size} results, at most $k expected")
    else if (got.map(_._1).distinct.size != got.size) Some("duplicate ids")
    else if (got.zip(got.drop(1)).exists { case (a, b) => b._2 < a._2 - Eps }) Some("not sorted")
    else got.collectFirst {
      case (id, d) if !distOf(id).exists(x => math.abs(x - d) <= Eps) =>
        s"id $id is not at distance $d"
    }
}

/** The served collection: the program's [[Api]] behind an in-process
  * [[HttpBinding]] on loopback. In the traced run the handler is
  * wrapped: it sets the request's job group (so Spark jobs attach to
  * the request) and records the handler span. */
final class Server(spark: SparkSession, rec: Recorder, root: String, traceRun: Boolean) {
  val api = new Api(spark, root)
  private val sc = spark.sparkContext

  private def handler(m: String, p: String, b: String, q: Map[String, String]): ApiResponse = {
    val rid = q.getOrElse("rid", "")
    if (!rec.tracing.get || rid.isEmpty) api.handle(m, p, b, q - "rid")
    else {
      val id = "h:" + rid
      sc.setJobGroup(id, s"$m $p", interruptOnCancel = false)
      val t0 = rec.nowMs()
      try api.handle(m, p, b, q - "rid")
      finally {
        rec.span(Span(id, "r:" + rid, "handler", t0, rec.nowMs()))
        sc.clearJobGroup()
      }
    }
  }

  val binding: HttpBinding =
    if (traceRun) new HttpBinding(handler _, 0, HttpBinding.DefaultMaxBody)
    else new HttpBinding(api, 0)

  def stop(): Unit = binding.stop()
}

/** One closed-loop HTTP client. Every request carries a `rid` query
  * parameter: the traced handler keys its spans and job group on it,
  * the untraced server ignores it. */
final class Client(rec: Recorder, port: Int, id: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port/api/v1/collections"

  def call(kind: String, phase: String, method: String, path: String, body: String = "")(
      check: JValue => Option[String]): Option[JValue] = {
    val rid = s"$kind-${Client.seq.incrementAndGet()}"
    var json: JValue = JNothing
    rec.timed(kind, phase, id, "r:" + rid, "request") {
      val send =
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body)
      val req = HttpRequest.newBuilder(URI.create(s"$base$path?rid=$rid"))
        .method(method, send).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode, resp.body)
    } { case (status, text) =>
      if (status / 100 != 2) Some(s"status $status: ${text.take(200)}")
      else { json = JsonMethods.parse(text); check(json) }
    }.map(_ => json)
  }
}

object Client {
  private val seq = new AtomicLong
}

/** Serving set-up, measured blocks, and the phases after them. */
object Serving {
  val ExactFilter = "cat == 3 AND score > 50"
  val ListFilter = "cat == 5"

  /** Create and fill a collection through the public Collection API. */
  def load(spark: SparkSession, root: String, name: String, docs: Seq[Doc]): Unit =
    Collection.create(spark, CollectionOptions(name, docs.head.vec.length), s"$root/$name")
      .addDocuments(spark.createDataFrame(
        docs.map(d => (d.id, d.vec.toSeq, d.metaJson))).toDF("id", "vector", "metadata"))

  /** Run the measured window: one untraced block, or in the traced
    * run four blocks (untraced, traced, traced, untraced) so the
    * tracing overhead is read inside one process, with the latency
    * still falling as the JIT warms weighing on both sides alike.
    * `client` is given each block's deadline. */
  def blocks(seconds: Double, tracing: Option[Tracing], rec: Recorder,
             client: Double => Unit): Unit = {
    val plan = tracing match {
      case None => Seq(false -> seconds)
      case Some(_) => Seq(false, true, true, false).map(_ -> seconds / 4)
    }
    plan.foreach { case (traced, secs) =>
      if (traced) tracing.foreach(_.on())
      client(rec.nowMs() + secs * 1000)
      if (traced) tracing.foreach(_.off())
    }
  }

  /** The collection's files: its log, every generation and the options
    * file, all directly under `root` and named after it. */
  private def files(root: String, name: String): Seq[Path] =
    Files.list(Paths.get(root)).iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(name))
      .flatMap(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toList)

  def diskBytes(root: String, name: String): Long = files(root, name).map(Files.size).sum

  /** Parquet files in the generation reads resolve to. */
  def logFiles(root: String, name: String): Int = {
    val dirs = Files.list(Paths.get(root)).iterator().asScala.toList
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(name))
      .filter(p => p.getFileName.toString == name || Files.exists(p.resolve("_SUCCESS")))
    val live = dirs.maxByOption(p => p.getFileName.toString.stripPrefix(name + ".gen").toIntOption.getOrElse(0))
    live.map(d => Files.list(d).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
      .getOrElse(0)
  }

  /** CPU time this JVM has used, all threads, in milliseconds. */
  def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** The write path through the API after the measured window, one
    * request each: three rounds of a 20-record insert, a metadata
    * update and a delete of random live records, then a compaction.
    * Around its Collection calls (getDocument before an update or a
    * delete, then the write) the Api only handles JSON, so a write's
    * handler span is the Collection's write time. The log's files and
    * its bytes on disk per byte of live rows are read before
    * compacting. Updated records get a score above the generated
    * range; the last two requests read back the live ids and the
    * updated records. */
  def writes(rec: Recorder, http: Client, root: String, name: String,
             docs: Seq[Doc], gen: Gen): Unit = {
    val live = scala.collection.mutable.LinkedHashMap[Long, Doc]() ++= docs.map(d => d.id -> d)
    val r = new java.util.Random(docs.size)
    def pick(): Doc = live.valuesIterator.drop(r.nextInt(live.size)).next()
    val ok = (_: JValue) => None
    var nextId = live.keys.max
    (0 until 3).foreach { round =>
      val batch = (0 until 20).map { _ => nextId += 1; gen.doc(nextId, r) }
      http.call("insert", "write", "POST", s"/$name/records", batch.map { d =>
        s"""{"id":${d.id},"vector":${Brute.vecJson(d.vec)},"metadata":${d.metaJson}}"""
      }.mkString("[", ",", "]"))(ok)
      live ++= batch.map(d => d.id -> d)
      val upd = pick().copy(score = 100 + round)
      http.call("update", "write", "PUT", s"/$name/records/${upd.id}/metadata",
        s"""{"metadata":${upd.metaJson}}""")(ok)
      live(upd.id) = upd
      val gone = pick().id
      http.call("delete", "write", "DELETE", s"/$name/records/$gone")(ok)
      live.remove(gone)
    }
    rec.layerValue("raw.log_files", logFiles(root, name))
    rec.layerValue("raw.space_amp", diskBytes(root, name).toDouble / live.valuesIterator.map(_.bytes).sum)
    http.call("compact", "write", "POST", s"/$name/compact")(ok)

    http.call("ids", "check", "GET", s"/$name/ids") {
      case JArray(ids) =>
        val got = ids.collect { case JInt(i) => i.toLong; case JLong(l) => l }.toSet
        if (got == live.keySet) None
        else Some(s"${got.size} live ids, expected ${live.size}")
      case _ => Some("the ids response is not an array")
    }
    val updated = live.valuesIterator.filter(_.score > 99).map(d => d.id -> d).toMap
    http.call("updated", "check", "POST", s"/$name/search",
      s"""{"limit":100,"filter":"score > 99"}""") { b =>
      val got = Brute.results(b)
      if (got.size != updated.size || got.map(_._1).toSet != updated.keySet)
        Some(s"ids ${got.map(_._1).mkString(",")} carry an updated score, " +
          s"expected ${updated.keys.mkString(",")}")
      else got.collectFirst {
        case (id, _, meta) if (meta \ "score") != JInt(updated(id).score) ||
            (meta \ "cat") != JInt(updated(id).cat) => s"id $id has metadata $meta"
      }
    }
  }

  /** Microseconds to compile each filter the serving workloads send
    * (parse plus Catalyst column), median of repeated calls. */
  def filterCompileUs(rec: Recorder): Unit = {
    val filters = Seq(ExactFilter, ListFilter)
    def once(): Double = {
      val t0 = System.nanoTime()
      filters.foreach(f => FilterCompiler.compileJson(f, col("metadata")))
      (System.nanoTime() - t0) / 1e3 / filters.size
    }
    (0 until 200).foreach(_ => once())
    val xs = (0 until 200).map(_ => once()).sorted
    rec.layerValue("raw.query_compile_us", xs(xs.size / 2))
  }

  /** Time Collection.searchWithStats (building the result, including
    * any statistics jobs it runs) apart from executing the result.
    * Direct-phase job groups and spans start with "d:". */
  def directSearches(spark: SparkSession, rec: Recorder, path: String,
                     args: Seq[SearchArgs]): Unit = {
    val c = Collection.open(spark, path)
    val sc = spark.sparkContext
    args.zipWithIndex.foreach { case (a, i) =>
      val t0 = rec.nowMs()
      sc.setJobGroup(s"d:b:$i", "collection build", interruptOnCancel = false)
      val res = c.searchWithStats(a)
      val t1 = rec.nowMs()
      sc.setJobGroup(s"d:e:$i", "collection execute", interruptOnCancel = false)
      res.results.collect()
      val t2 = rec.nowMs()
      sc.clearJobGroup()
      rec.span(Span(s"d:$i", "", "collection", t0, t2))
      rec.span(Span(s"d:b:$i", s"d:$i", "collection.build", t0, t1))
      rec.span(Span(s"d:e:$i", s"d:$i", "collection.execute", t1, t2))
    }
  }
}
