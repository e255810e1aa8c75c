package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.graphx.Graph
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algos.GraphAlgorithms
import graft.core.KGraph
import graft.pipeline.{Dedup, TextAnalysis}

/** One benchmark workload: seeded inputs, a round of layer calls, and the
  * checks of their outputs. */
trait Workload {
  /** Build (or rebuild) the seeded inputs; called several times. */
  def setup(c: Ctx): Unit
  /** Set-up that is done once, after the input builds (e.g. a server). */
  def setupOnce(c: Ctx): Unit = ()
  /** One pass over every call of the workload. */
  def round(c: Ctx): Unit
  /** Output checks, after the timed rounds. */
  def check(c: Ctx): Unit
  def close(c: Ctx): Unit = ()
  /** REST latencies (`api.*`); zero where the workload has no REST layer. */
  def apiMetrics(c: Ctx): Map[String, Double] = Layers.api.map(_ -> 0.0).toMap
  /** (supersteps, ms per superstep) of the Pregel runs of the traced epochs. */
  def pregelSteps(c: Ctx, epochs: Set[Int]): (Double, Double) = (0.0, 0.0)
}

object Workloads {
  val names: Seq[String] = Seq("rmat-graph", "curation-rest")

  def apply(name: String): Workload = name match {
    case "rmat-graph" => new RmatGraph
    case "curation-rest" => new CurationRest
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }
}

/** Seeded input generators. */
object Inputs {
  /** R-MAT edges: the quadrant recursion of `GraphGenerators.rmatGraph`
    * (a = 0.57, b = c = 0.19) with the seed mixed into every per-(edge,
    * level) hash, so each seed draws a different graph of the same shape. */
  def rmat(spark: SparkSession, scale: Int, numEdges: Long, seed: Long): DataFrame = {
    val (a, b, cc) = (0.57, 0.19, 0.19)
    val (s, d) = (0 until scale).foldLeft((lit(0L), lit(0L))) { case ((s0, d0), level) =>
      val u = shiftrightunsigned(xxhash64(col("id"), lit(level), lit(seed)), 11)
        .cast("double") / lit((1L << 53).toDouble)
      val srcBit = (u >= a + b).cast("long")
      val dstBit = ((u >= a && u < a + b) || u >= a + b + cc).cast("long")
      (s0 * 2 + srcBit, d0 * 2 + dstBit)
    }
    spark.range(numEdges).select(s.as("src"), d.as("dst")).filter(col("src") =!= col("dst"))
  }

  /** Canonical simple graph: one (low, high) edge per vertex pair, weight 1. */
  def canonical(e: DataFrame): DataFrame =
    e.select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .distinct().select(col("src"), col("dst"), lit(1.0).as("value"))

  /** Write `df` as parquet under the work directory and read it back cached:
    * the input path a deployment takes from stored data. */
  def stored(c: Ctx, name: String, df: DataFrame): DataFrame = {
    val path = c.work.resolve("data").resolve(name).toString
    df.write.mode("overwrite").parquet(path)
    val back = c.spark.read.parquet(path).persist(StorageLevel.MEMORY_ONLY)
    back.count()
    back
  }

  def edgeList(df: DataFrame): Array[(Long, Long)] =
    df.select(col("src"), col("dst")).collect().map(r => (r.getLong(0), r.getLong(1)))
}

/** DataFrame graph algorithms on a seeded R-MAT graph: the iterative loops
  * (a new plan and job chain every superstep) and the triangle family
  * (set intersections skewed by the hubs). */
final class RmatGraph extends Workload {
  private val Scale = 9
  private val EdgeFactor = 8
  private var g: KGraph = _

  def setup(c: Ctx): Unit = {
    if (g != null) { g.vertices.unpersist(); g.edges.unpersist() }
    c.call("core", "rmat") {
      val e = Inputs.canonical(Inputs.rmat(c.spark, Scale, EdgeFactor.toLong << Scale, c.seed))
      val stored = Inputs.stored(c, s"rmat$Scale-${c.seed}", e)
      val kg = KGraph.fromEdges(stored, _ => lit(1L))
      g = kg.copy(vertices = kg.vertices.persist(StorageLevel.MEMORY_ONLY))
      g.vertices.count()
    }
    c.sizes("scale") = Scale
    c.sizes("edges") = g.edges.count()
    c.sizes("vertices") = g.vertices.count()
    c.sizes("triangles") = Oracles.triangles(Inputs.edgeList(g.edges))
  }

  private def calls(c: Ctx): Map[String, Option[Any]] = {
    val L = "algos.loops"
    val T = "algos.triangles"
    val out = mutable.LinkedHashMap.empty[String, Option[Any]]
    out("wcc") = c.call(L, "wcc")(GraphAlgorithms.wcc(g))
    val p = c.call(T, "prepare") {
      val p = GraphAlgorithms.prepareNeighborhood(g)
      Bench.force(p.adj)
      p
    }
    p.foreach { p =>
      out("triangleCounts") = c.call(T, "triangleCounts")(GraphAlgorithms.triangleCounts(g, p))
      out("globalCount") = c.call(T, "globalCount")(GraphAlgorithms.globalTriangleCount(p))
      out("twoHop") = c.call(T, "twoHop")(GraphAlgorithms.twoHopNeighborCounts(p))
    }
    out.toMap
  }

  /** Outputs of the warm-up round, collected for the checks. */
  private var warmOut: Map[String, Any] = Map.empty

  def round(c: Ctx): Unit = {
    val out = calls(c)
    if (c.warm) {
      def rows(k: String): Map[Long, Any] = out.get(k).flatten
        .map(_.asInstanceOf[DataFrame].collect().map(r => r.getLong(0) -> r.get(1)).toMap)
        .getOrElse(Map.empty)
      warmOut = Map(
        "wcc" -> rows("wcc"), "triangleCounts" -> rows("triangleCounts"),
        "globalCount" -> out.get("globalCount").flatten.getOrElse(-1L),
        "twoHop" -> rows("twoHop"))
    }
  }

  /** Checks the warm-up round's outputs: the same calls on the same inputs
    * as the timed rounds. */
  def check(c: Ctx): Unit = {
    def rows(k: String): Map[Long, Any] = warmOut(k).asInstanceOf[Map[Long, Any]]
    val edges = Inputs.edgeList(g.edges)
    val graph = Graph.fromEdgeTuples(c.spark.sparkContext.parallelize(edges.toSeq), 1)
    c.check("wcc = GraphX connectedComponents") {
      rows("wcc") == graph.connectedComponents().vertices.collect().toMap
    }
    c.check("globalTriangleCount = Σ triangleCounts / 3 = GraphX triangleCount / 3") {
      val gx = graph.triangleCount().vertices.map(_._2.toLong).sum().toLong / 3
      val global = warmOut("globalCount").asInstanceOf[Long]
      val perVertex = rows("triangleCounts").values.map(_.asInstanceOf[Long]).sum / 3
      global == perVertex && global == gx && global > 0
    }
    c.check("twoHopNeighborCounts = exact distance-2 neighbourhood sizes") {
      rows("twoHop").map { case (v, n) => v -> n.asInstanceOf[Number].longValue } ==
        Oracles.twoHop(edges)
    }
  }
}

/** The training-data pipeline and the REST run lifecycle: expression
  * kernels and driver-loop-bound curation calls, then Pregel runs submitted
  * over HTTP beside short reads. */
final class CurationRest extends Workload {
  private val BaseDocs = 600
  private val Planted = 200
  private var docs: DataFrame = _
  private var planted: Seq[(Long, Long)] = Nil
  private var merges: Seq[(String, String)] = Nil
  private val rest = new RestLoad

  def setup(c: Ctx): Unit = {
    Option(docs).foreach(_.unpersist())
    c.call("core", "corpus") {
      val (rows, pairs) = Corpus.documents(c.seed, BaseDocs, Planted)
      planted = pairs
      docs = Inputs.stored(c, s"docs-${c.seed}", c.spark.createDataFrame(
        c.spark.sparkContext.parallelize(rows, c.cores), Corpus.docSchema))
    }
    c.sizes("docs") = docs.count()
    c.sizes("planted_dups") = planted.size
  }

  override def setupOnce(c: Ctx): Unit = rest.setup(c)

  private def calls(c: Ctx): Map[String, Option[DataFrame]] = {
    val L = "pipeline"
    val F = "functions"
    val out = mutable.LinkedHashMap.empty[String, Option[DataFrame]]
    out("exactDedup") = c.call(L, "exactDedup")(Dedup.exact(docs))
    out("minHashLSH") = c.call(L, "minHashLSH")(
      Dedup.minHashLSH(docs, threshold = 0.5, poly = true))
    val learned = c.call(L, "bpeLearn")(TextAnalysis.bpeLearn(docs, 3))
    if (merges.isEmpty) learned.foreach { df =>
      merges = df.collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    }
    out("editDistancePairs") = c.call(L, "editDistancePairs")(
      Dedup.editDistancePairs(docs, maxDist = 8, q = 5))
    c.call(F, "minHashSignature")(docs.select(col("doc_id"),
      Dedup.minHashSignature(Dedup.wordShingles(col("text"), 3), 64, poly = true)))
    c.call(F, "simHash")(docs.select(col("doc_id"), Dedup.simHash(col("text"), poly = true)))
    c.call(F, "bpeEncode")(TextAnalysis.bpeEncode(docs, merges))
    out.toMap
  }

  /** Outputs of the warm-up round, collected for the checks. */
  private var warmOut: Map[String, Any] = Map.empty

  def round(c: Ctx): Unit = {
    val out = calls(c)
    if (c.warm) {
      def rows(k: String): Seq[Row] = out.get(k).flatten.map(_.collect().toSeq).getOrElse(Nil)
      warmOut = Map(
        "exactDedup" -> rows("exactDedup").size.toLong,
        "minHashLSH" -> rows("minHashLSH").map(r => r.getLong(0) -> r.getLong(1)).toMap,
        "editDistancePairs" -> rows("editDistancePairs").filter(_.getAs[Number]("lev").intValue == 0)
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    c.step("api.phase")(rest.phase(c))
  }

  /** Checks the warm-up round's outputs: the same calls on the same inputs
    * as the timed rounds. */
  def check(c: Ctx): Unit = {
    val texts = docs.select(col("text")).collect().map(_.getString(0))
    c.check("exact dedup keeps one row per distinct text") {
      warmOut("exactDedup") == texts.distinct.length.toLong
    }
    c.check("minHashLSH recovers >= 95% of planted near-duplicates") {
      val clusters = warmOut("minHashLSH").asInstanceOf[Map[Long, Long]]
      val hit = planted.count { case (dup, base) => clusters.get(dup) == clusters.get(base) }
      c.extra("planted_recall") = hit.toDouble / planted.size
      hit >= 0.95 * planted.size
    }
    c.check("editDistancePairs finds every planted exact copy at distance 0") {
      val zero = warmOut("editDistancePairs").asInstanceOf[Set[(Long, Long)]]
      planted.grouped(2).map(_.head).forall { case (dup, base) =>
        zero.contains((math.min(dup, base), math.max(dup, base))) }
    }
    rest.check(c)
  }

  override def close(c: Ctx): Unit = rest.close()
  override def apiMetrics(c: Ctx): Map[String, Double] = rest.apiMetrics(c)
  override def pregelSteps(c: Ctx, epochs: Set[Int]): (Double, Double) =
    rest.pregelSteps(epochs)
}

/** Seeded synthetic corpus: documents over a small vocabulary, with planted
  * near-duplicates made by token drops and adjacent swaps. */
object Corpus {
  import org.apache.spark.sql.types._

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val vocab = ("spark graph edge vertex query join scan sort hash group window " +
    "stream batch column table filter value key merge index shard token corpus model " +
    "train sample score rank path cycle tree node leaf root fast slow big small data " +
    "line part order agg row map reduce shuffle cache plan stage task").split(" ")
  private val langs = Seq("en", "en", "en", "de", "fr", "zh")

  /** (rows, planted (duplicate id, original id) pairs). Every planted
    * original gets two copies: one exact, one with 1–2 token edits. */
  def documents(seed: Long, base: Int, planted: Int): (Seq[Row], Seq[(Long, Long)]) = {
    val rnd = new Random(seed)
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    (0 until base).foreach { _ =>
      texts += Array.fill(20 + rnd.nextInt(50))(vocab(rnd.nextInt(vocab.length)))
    }
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    rnd.shuffle((0 until base).toVector).take(planted).foreach { orig =>
      texts += texts(orig).clone()
      pairs += ((texts.size - 1).toLong -> orig.toLong)
      val t = texts(orig).toBuffer
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val i = rnd.nextInt(t.size - 1)
        if (rnd.nextBoolean()) t.remove(i)
        else { val x = t(i); t(i) = t(i + 1); t(i + 1) = x }
      }
      texts += t.toArray
      pairs += ((texts.size - 1).toLong -> orig.toLong)
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val text = t.mkString(" ")
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(5)}",
        text.length.toLong)
    }.toSeq
    (rows, pairs.toSeq)
  }
}

/** Driver-side reference computations for the output checks. */
object Oracles {
  private def adjacency(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }

  def triangles(edges: Seq[(Long, Long)]): Long = {
    val adj = adjacency(edges)
    edges.map { case (a, b) => (adj(a) intersect adj(b)).size.toLong }.sum / 3
  }

  /** Vertices at distance exactly two, per vertex that has any. */
  def twoHop(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = adjacency(edges)
    adj.map { case (v, ns) =>
      v -> ((ns.flatMap(adj) -- ns) - v).size.toLong
    }.filter(_._2 > 0)
  }
}
