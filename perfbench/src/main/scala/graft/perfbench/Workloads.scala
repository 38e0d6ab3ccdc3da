package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.core.{Collection, SearchArgs}

/** What a workload runs with. `work` is an empty scratch directory for
  * collections; `data` holds the batch tables. */
final case class Ctx(spark: SparkSession, rec: Recorder, tracing: Option[Tracing],
                     seed: Long, seconds: Double, work: String, data: String)

/** serve_search: a read-only session of successive searches against
  * one compacted collection, from one closed-loop HTTP client, as in an
  * interactive analysis session. With a second client all four cores
  * were busy at once (two handlers planning beside four Spark tasks)
  * and latency took about 40 s of requests to settle, against about
  * 25 s with one. Every exact, radius and listing answer is checked
  * against brute force. */
object ServeSearch {
  val Rows = 10000
  val K = 10
  val Radius = 0.22
  /** The request mix, exact in every cycle of ten: 30% exact kNN, 30%
    * medium kNN, 10% exact radius, 20% filtered exact kNN, 10%
    * filtered paginated listing. The client sends whole cycles, so
    * every block of the run holds the mix exactly. */
  val Mix = Seq("exact", "exact", "exact", "medium", "medium", "medium",
    "radius", "filtered", "filtered", "listing")
  /** Untimed cycles. On 4 cores latency falls steeply over the first
    * two cycles (about 20 s) and by a tenth more over the next two; the
    * measured window holds the same cycles in every run. */
  val WarmupCycles = 2

  def run(ctx: Ctx): Unit = {
    import ctx._
    val gen = new Gen(seed)
    val docs = (0 until Rows).map(i => gen.doc(i.toLong))
    val byId = docs.map(d => d.id -> d).toMap
    val eligible = docs.filter(d => d.cat == 3 && d.score > 50)
    val listed = docs.filter(_.cat == 5).map(_.id).sorted
    Serving.load(spark, work, "search", docs)
    rec.mark("loaded")
    Collection.open(spark, s"$work/search").compact(retainGenerations = 0)
    rec.mark("compacted")
    val server = new Server(spark, rec, work, tracing.isDefined)
    val recall = ArrayBuffer.empty[Double]
    val pctSearched = ArrayBuffer.empty[Double]

    object client {
      private val r = new java.util.Random(seed * 7919)
      private val shuffler = new scala.util.Random(r.nextLong())
      private val http = new Client(rec, server.binding.boundPort, 0)
      private var queue = List.empty[String]

      /** Whether the client has sent every request of its current cycle. */
      def cycleDone: Boolean = queue.isEmpty

      def next(phase: String): Unit = {
        if (queue.isEmpty) queue = shuffler.shuffle(Mix).toList
        val kind = queue.head
        queue = queue.tail
        val q = gen.query(r)
        val qv = Brute.vecJson(q)
        def distOf(pool: Long => Option[Doc])(id: Long) = pool(id).map(Brute.dist(q, _))
        def pairs(b: JValue) = Brute.results(b).map(t => (t._1, t._2))
        kind match {
          case "exact" =>
            val want = Brute.knn(q, docs, K)
            http.call(kind, phase, "POST", "/search/search",
              s"""{"vector":$qv,"k":$K,"precision":"exact"}""") { b =>
              Brute.checkKnn(pairs(b), want, distOf(byId.get))
            }
          case "filtered" =>
            val want = Brute.knn(q, eligible, K)
            val pool = eligible.map(d => d.id -> d).toMap
            http.call(kind, phase, "POST", "/search/search",
              s"""{"vector":$qv,"k":$K,"precision":"exact","filter":"${Serving.ExactFilter}"}""") { b =>
              Brute.checkKnn(pairs(b), want, distOf(pool.get))
            }
          case "medium" =>
            val want = Brute.knn(q, docs, K).map(_._1).toSet
            http.call(kind, phase, "POST", "/search/search",
              s"""{"vector":$qv,"k":$K,"precision":"medium"}""") { b =>
              // an LSH bucket may hold fewer than k rows; what it
              // returns must still be real rows at their distances
              Brute.checkConsistent(pairs(b), K, distOf(byId.get))
            }.foreach { b =>
              recall += (pairs(b).count(p => want(p._1)).toDouble / K)
              (b \ "percent_searched") match {
                case JDouble(x) => pctSearched += x; case _ => ()
              }
            }
          case "radius" =>
            val want = docs.map(d => d.id -> Brute.dist(q, d)).filter(_._2 <= Radius)
            http.call(kind, phase, "POST", "/search/search",
              s"""{"vector":$qv,"radius":$Radius,"precision":"exact"}""") { b =>
              val got = pairs(b)
              val gotIds = got.map(_._1).toSet
              if (gotIds.size != got.size) Some("duplicate ids")
              else got.collectFirst {
                case (id, d) if !byId.get(id).exists(x => math.abs(Brute.dist(q, x) - d) <= Brute.Eps) =>
                  s"id $id is not at distance $d"
                case (id, d) if d > Radius + Brute.Eps => s"id $id at $d is outside the radius"
              }.orElse(want.collectFirst {
                case (id, d) if d <= Radius - Brute.Eps && !gotIds(id) => s"missing id $id at $d"
              })
            }
          case "listing" =>
            val offset = r.nextInt(listed.size - 20)
            val want = listed.slice(offset, offset + 20)
            http.call(kind, phase, "POST", "/search/search",
              s"""{"limit":20,"offset":$offset,"filter":"${Serving.ListFilter}"}""") { b =>
              val got = Brute.results(b)
              if (got.map(_._1) != want) Some(s"page at offset $offset differs")
              else got.collectFirst {
                case (id, _, meta) if (meta \ "cat") != JInt(5) => s"id $id has metadata $meta"
              }
            }
        }
      }
    }

    (0 until WarmupCycles * Mix.size).foreach(_ => client.next("warmup"))
    rec.mark("warm")
    val cpu0 = Serving.cpuMs()
    Serving.blocks(seconds, tracing, rec, deadline =>
      while (rec.nowMs() < deadline || !client.cycleDone) client.next("measure"))
    rec.layerValue("raw.measure_cpu_ms", Serving.cpuMs() - cpu0)

    try tracing.foreach { t =>
      t.measured()
      val r = new java.util.Random(seed)
      val args = (0 until 2).flatMap(_ => Seq(
        SearchArgs(vector = Some(gen.query(r).toSeq), k = K, precision = "exact"),
        SearchArgs(vector = Some(gen.query(r).toSeq), k = K, precision = "medium"),
        SearchArgs(vector = Some(gen.query(r).toSeq), radius = Radius, precision = "exact"),
        SearchArgs(vector = Some(gen.query(r).toSeq), k = K, precision = "exact",
          filter = Some(Serving.ExactFilter)),
        SearchArgs(limit = 20, offset = 100, filter = Some(Serving.ListFilter))))
      t.on()
      Serving.directSearches(spark, rec, s"$work/search", args)
      Serving.writes(rec, new Client(rec, server.binding.boundPort, 2), work, "search", docs, gen)
      t.off()
      Serving.filterCompileUs(rec)
    } finally server.stop()
    rec.layerValue("raw.live_rows", Rows)
    rec.layerValue("raw.ann_recall_at_10", mean(recall))
    rec.layerValue("raw.percent_searched", mean(pctSearched))
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** batch_lines: declared SparkEntry lines, each called the way the
  * suite's Bench calls it (`fn(spark, dir)` then
  * `queryExecution.toRdd.count()`), in passes over the suite's sf0.001
  * tables. */
object BatchLines {
  /** Cheap lines, where fixed per-line overhead dominates, and one
    * driver-side job chain (pipeline_curate_v2). All sixteen lines took
    * over 20 s a warm pass and 50 s cold on 4 cores even on the smallest
    * tables, too long to repeat in every run. */
  val Names = Seq("knn_cosine", "filter_dsl", "knn_batch", "dedup_exact",
    "events_pmi", "pipeline_curate_v2")
  /** Timed passes at least. Passes get faster for the first three
    * (on 4 cores the first warm pass took 6-8 s, the third 4-6 s), so
    * the run makes one untimed warm pass after the cold one; three
    * passes outlast a 10 s window on 4 cores, so every run takes each
    * line's median from the same three calls. The traced
    * run, which alternates tracing call by call, then has each line
    * both ways. */
  val MinPasses = 3

  def run(ctx: Ctx): Unit = {
    import ctx._
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries

    def call(name: String, pass: Int, phase: String, expect: Option[Long]): Option[Long] = {
      val traced = rec.tracing.get
      val (cid, eid) = (s"c:$pass:$name", s"e:$pass:$name")
      rec.timed(name, phase, 0, s"l:$pass:$name", "line") {
        if (traced) sc.setJobGroup(cid, name, interruptOnCancel = false)
        val t0 = rec.nowMs()
        val df: DataFrame = queries(name)(spark, data)
        val t1 = rec.nowMs()
        if (traced) sc.setJobGroup(eid, name, interruptOnCancel = false)
        val n = try df.queryExecution.toRdd.count() finally sc.clearJobGroup()
        val t2 = rec.nowMs()
        if (traced) {
          rec.span(Span(cid, s"l:$pass:$name", "construct", t0, t1))
          rec.span(Span(eid, s"l:$pass:$name", "execute", t1, t2))
          df.queryExecution.tracker.phases.foreach { case (ph, s) =>
            rec.span(Span(s"p:$pass:$name:$ph", if (s.startTimeMs < t1) cid else eid,
              "plan", s.startTimeMs.toDouble, s.endTimeMs.toDouble))
          }
        }
        n
      } { n =>
        expect match {
          case Some(e) if e != n => Some(s"$n rows, the cold pass gave $e")
          case None if n == 0 => Some("the cold pass found no rows")
          case _ => None
        }
      }
    }

    // the cold pass builds the memoized fixtures; it and one more pass
    // are the untimed warm-up
    val cold = Names.map(n => n -> call(n, 0, "warmup", None)).toMap
    cold.foreach { case (n, rows) => rows.foreach(c => rec.layerValue(s"rows.$n", c.toDouble)) }
    rec.mark("cold")
    Names.foreach(n => call(n, 0, "warmup", cold(n)))
    rec.mark("warm")
    // in the traced run every other call is traced, shifting by one
    // each pass
    val deadline = rec.nowMs() + seconds * 1000
    val cpu0 = Serving.cpuMs()
    var pass = 1
    while (pass - 1 < MinPasses || rec.nowMs() < deadline) {
      Names.zipWithIndex.foreach { case (n, i) =>
        val traced = tracing.isDefined && (pass + i) % 2 == 0
        if (traced) tracing.foreach(_.on())
        call(n, pass, "measure", cold(n))
        if (traced) tracing.foreach(_.off())
      }
      pass += 1
    }
    rec.layerValue("raw.measure_cpu_ms", Serving.cpuMs() - cpu0)
    tracing.foreach(_.measured())
  }
}
