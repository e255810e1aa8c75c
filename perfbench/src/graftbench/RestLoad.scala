package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import graft.algos.compute.{AlgorithmRegistry, Cf}
import graft.api.RestServer

/** REST load on a `RestServer` over the benchmark's session. In each
  * phase two closed-loop clients split a fixed rotation of Pregel
  * algorithms (configure → run → poll → result) while one closed-loop
  * reader issues short GETs; the phase ends when both clients are done. */
final class RestLoad {
  private val Scale = 9
  private val Parts = 4
  private val Iters = 3
  /** (algorithm, graph, configs, numIterations); client k runs every
    * other entry starting at k. */
  private val rotation: Seq[(String, String, Map[String, Any], Int)] = Seq(
    ("sssp", "g", Map("srcVertexId" -> 0L), Iters),
    ("wcc", "g", Map.empty, Iters),
    ("pagerank", "g", Map.empty, Iters),
    ("lp", "g", Map.empty, Iters))
  /** The trained model the reader's predict requests read. */
  private val svdpp: (String, String, Map[String, Any], Int) =
    ("svdpp", "r", Map("iterations" -> 2L, "random.seed" -> 7L, "vector.size" -> 4L), Iters)

  private var server: RestServer = _
  private var base = ""
  private val http = HttpClient.newHttpClient()
  private var edges: Seq[(Long, Long, Double)] = Nil
  private var ratings: Seq[(Long, Long, Double)] = Nil
  private var model = ""
  /** (epoch, run seconds) and (epoch, read milliseconds) of timed rounds. */
  private val runLat = new ConcurrentLinkedQueue[(Int, Double)]
  private val readLat = new ConcurrentLinkedQueue[(Int, Double)]
  /** (epoch, supersteps, running ms) of every completed run. */
  private val steps = new ConcurrentLinkedQueue[(Int, Int, Long)]
  /** Submission ids of the last phase, by algorithm. */
  private val lastIds = new java.util.concurrent.ConcurrentHashMap[String, String]

  private def send(req: HttpRequest.Builder): String = {
    val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() != 200) throw new IllegalStateException(s"HTTP ${r.statusCode()}: ${r.body()}")
    r.body()
  }
  private def post(path: String, body: String = ""): String =
    send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)))
  private def get(path: String): String =
    send(HttpRequest.newBuilder(URI.create(base + path)).GET())

  private def field(json: String, key: String): String =
    ("\"" + key + "\":\"?([^\",}]+)\"?").r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(throw new IllegalStateException(s"no $key in $json"))

  def setup(c: Ctx): Unit = {
    server = new RestServer(c.spark).start()
    base = s"http://127.0.0.1:${server.boundPort}"
    c.call("core", "rmat") {
      edges = Inputs.edgeList(Inputs.canonical(Inputs.rmat(c.spark, Scale, 8L << Scale, c.seed)))
        .map { case (a, b) => (a, b, 1.0) }.toSeq
      val rnd = new scala.util.Random(c.seed)
      ratings = (for (u <- 0L until 120L; i <- 0L until 40L if rnd.nextInt(4) == 0)
        yield (u, i, (1 + rnd.nextInt(5)).toDouble)).toSeq
    }
    c.call("api", "import") {
      post("/import?name=g&type=edges", edges.map { case (a, b, w) => s"$a $b $w" }.mkString("\n"))
      post(s"/prepare?name=g&partitions=$Parts")
      post("/import?name=r&type=edges", ratings.map { case (a, b, w) => s"$a $b $w" }.mkString("\n"))
      post(s"/prepare?name=r&partitions=$Parts")
      model = runOnce(c, svdpp)._1
      lastIds.put("svdpp", model)
    }
    c.sizes("rest_scale") = Scale
    c.sizes("rest_edges") = edges.size
    c.sizes("rest_vertices") = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    c.sizes("rest_ratings") = ratings.size
  }

  /** configure → run → poll until terminal; returns (id, run seconds). */
  private def runOnce(c: Ctx, alg: (String, String, Map[String, Any], Int)): (String, Double) = {
    val (name, graph, conf, iters) = alg
    val id = field(post("/pregel", Json.obj("algorithm" -> name, "graph" -> graph,
      "configs" -> conf).json), "id")
    val t0 = System.nanoTime()
    post(s"/pregel/$id", s"""{"numIterations":$iters}""")
    var state = ""
    var st = ""
    while (state != "COMPLETED" && state != "HALTED" && state != "ERROR") {
      Thread.sleep(5)
      st = get(s"/pregel/$id")
      state = field(st, "state")
    }
    val secs = Bench.secs(t0)
    if (state == "ERROR") throw new IllegalStateException(s"$name run failed: $st")
    steps.add((c.epoch, field(st, "superstep").toInt, field(st, "runningTime").toLong))
    (id, secs)
  }

  def phase(c: Ctx): Unit = {
    val epoch = c.epoch
    val timed = !c.warm && epoch > 0
    val pregelSpan = c.tracer.filter(_.enabled).map { t =>
      val s = t.detached("pregel", "runs", epoch); t.defaultSpan = s; s
    }
    val done = new AtomicBoolean(false)
    val reader = new Thread(() => {
      val reads = Seq(s"/pregel/$model", s"/pregel/$model/configs",
        s"/pregel/$model/predict?user=1&item=1")
      var i = 0
      while (!done.get()) {
        val path = reads(i % reads.size)
        val t0 = System.nanoTime()
        c.call("api", "read")(get(path))
        if (timed) readLat.add(epoch -> (System.nanoTime() - t0) / 1e6)
        i += 1
        Thread.sleep(10)
      }
    }, "graftbench-reader")
    val clients = (0 until 2).map { k =>
      new Thread(() => {
        rotation.zipWithIndex.filter(_._2 % 2 == k).foreach { case (alg, _) =>
          c.call("api", "run")(runOnce(c, alg)).foreach { case (id, secs) =>
            if (timed) runLat.add(epoch -> secs)
            c.call("api", "result")(get(s"/pregel/$id/result"))
            Option(lastIds.put(alg._1, id)).foreach(old => c.call("api", "delete")(delete(old)))
          }
        }
      }, s"graftbench-client-$k")
    }
    reader.start()
    clients.foreach(_.start())
    clients.foreach(_.join())
    done.set(true)
    reader.join()
    c.tracer.foreach(_.defaultSpan = null)
    pregelSpan.foreach(s => s.end = System.currentTimeMillis())
  }

  def check(c: Ctx): Unit = {
    val sc = c.spark.sparkContext
    def prepared(es: Seq[(Long, Long, Double)]): RDD[(Long, Long, Double)] =
      sc.parallelize(es).keyBy(_._1).partitionBy(new HashPartitioner(Parts)).values.cache()
    for ((name, graph, conf, iters) <- rotation :+ svdpp) {
      c.check(s"REST $name result = direct AlgorithmRegistry run") {
        val direct = AlgorithmRegistry.runDetailed(c.spark, name,
          prepared(if (graph == "g") edges else ratings), conf, iters)
        val id = lastIds.get(name)
        if (name == "svdpp") {
          // factor arrays have no stable rendering: compare predictions
          val rows = direct.vertices.collectAsMap()
          val mean = Cf.svdppMeanRating(direct.aggregates)
          ratings.take(25).forall { case (u, i, _) =>
            val uv = rows(u).asInstanceOf[Cf.SvdppValue]
            val iv = rows(-i - 1).asInstanceOf[Cf.SvdppValue]
            val want = Cf.svdppPredictOne(mean, uv.baseline, uv.factors, iv.baseline,
              iv.factors, 0.0f, 5.0f)
            val got = field(get(s"/pregel/$id/predict?user=$u&item=$i"), "predicted").toFloat
            math.abs(got - want) <= 1e-4f
          }
        } else {
          val want = direct.vertices.collect().map { case (k, v) => k -> RestLoad.render(v) }.toMap
          val got = RestLoad.Event.findAllMatchIn(get(s"/pregel/$id/result"))
            .map(m => m.group(1).toLong -> m.group(2).replace("\\\"", "\"").replace("\\\\", "\\"))
            .toMap
          got.keySet == want.keySet && got.forall { case (k, v) => RestLoad.same(v, want(k)) }
        }
      }
    }
  }

  /** Drop a finished submission, as a client does once it has the result. */
  private def delete(id: String): Unit =
    send(HttpRequest.newBuilder(URI.create(s"$base/pregel/$id")).DELETE())

  def close(): Unit = if (server != null) server.stop()

  def apiMetrics(c: Ctx): Map[String, Double] = {
    val runs = runLat.asScala.map(_._2).toSeq
    val reads = readLat.asScala.map(_._2).toSeq
    val runTail = Bench.tail(runs)
    val readTail = Bench.tail(reads)
    c.extra("run_samples") = runs.size
    c.extra("run_tail_percentile") = runTail.map(_._1).getOrElse(100.0)
    c.extra("read_samples") = reads.size
    c.extra("read_tail_percentile") = readTail.map(_._1).getOrElse(100.0)
    Map(
      "run_p50_s" -> Bench.median(runs),
      "run_tail_s" -> runTail.map(_._2).getOrElse(if (runs.isEmpty) 0.0 else runs.max),
      "read_p50_ms" -> Bench.median(reads),
      "read_tail_ms" -> readTail.map(_._2).getOrElse(if (reads.isEmpty) 0.0 else reads.max))
  }

  def pregelSteps(epochs: Set[Int]): (Double, Double) = {
    val per = epochs.toSeq.map { e =>
      val s = steps.asScala.filter(_._1 == e).toSeq
      (s.map(_._2).sum.toDouble, s.map(_._3).sum.toDouble)
    }
    val n = Bench.median(per.map(_._1))
    val ms = per.map(_._2).sum / math.max(1.0, per.map(_._1).sum)
    (n, ms)
  }
}

object RestLoad {
  /** One SSE event of the result stream. */
  val Event = """data: \{"key":(-?\d+),"value":"((?:[^"\\]|\\.)*)"\}""".r

  /** The server's rendering of a vertex value in the result stream. */
  def render(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"$k=$x" }.sorted.mkString("{", ",", "}")
    case (a, b) => s"($a,$b)"
    case arr: Array[_] => arr.mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  private val Num = """-?\d+(\.\d+)?([eE][-+]?\d+)?""".r

  /** Rendered values agree: same text outside numbers, numbers within a
    * relative 1e-9 (message sums may combine in another order). */
  def same(a: String, b: String): Boolean = {
    val na = Num.findAllIn(a).map(_.toDouble).toSeq
    val nb = Num.findAllIn(b).map(_.toDouble).toSeq
    Num.replaceAllIn(a, "#") == Num.replaceAllIn(b, "#") && na.size == nb.size &&
      na.zip(nb).forall { case (x, y) => x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)) }
  }
}
