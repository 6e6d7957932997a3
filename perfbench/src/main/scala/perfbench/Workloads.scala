package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{asc, desc}

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.checkpoint.CheckpointManager
import graft.core.{LinkGraph, Renumber}
import graft.corpus.{Page, PagesCorpus, Rmat}
import graft.extract.{LinkExtractor, WebGraph}

/** Web corpus scales for the PageRank and the community workloads:
 * 2^scale pages with edgeFactor anchors each. */
final case class Sizes(pagerankScale: Int, communityScale: Int, edgeFactor: Int)

object Sizes {
  val bench = Sizes(pagerankScale = 12, communityScale = 10, edgeFactor = 16)
  val tiny = Sizes(pagerankScale = 6, communityScale = 6, edgeFactor = 16)
}

final case class Ctx(spark: SparkSession, parts: Int, dir: File) {
  def path(name: String): String = new File(dir, name).getPath
}

/**
 * A timed pipeline's outputs. `ops` lists every layer call the run made
 * (one op each); `check` compares the outputs against the reference and
 * returns the failures per op; `release` drops what the run cached.
 */
trait Outputs {
  def ops: Seq[String]
  /** Edge rows each superstep call ran over, for GTEPS. */
  def edges: Map[String, Long]
  def check(t: Tamper = Tamper.none): Map[String, Seq[String]]
  def release(): Unit
}

/** Applied to collected outputs before the gate sees them; the
 * self-test uses it to perturb one value and expect a failed op. */
trait Tamper {
  def ranks(m: Map[String, Double]): Map[String, Double] = m
  def longs(op: String, m: Map[Long, Long]): Map[Long, Long] = m
}

object Tamper {
  val none: Tamper = new Tamper {}
}

/** Set-up state of one workload: its inputs are written and any untimed
 * graph is built and cached. */
trait Prepared {
  /** Build the independent reference (outside set-up and the timed run). */
  def reference(): Unit
  /** The timed pipeline. With `traced`, each layer boundary is forced. */
  def run(tr: Tracer, traced: Boolean): Outputs
  def release(): Unit
}

trait Workload {
  def name: String
  def spans: Seq[String]
  def setup(ctx: Ctx, seed: Long, sz: Sizes): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(WebPageRank, WebCommunities)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** Rows of a (key, value) frame as a map. */
  def longMap(df: DataFrame): Map[Long, Long] =
    df.collect().iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Deletes a directory tree. */
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** The corpus → extract → renumber → PageRank → top-urls pipeline. */
object WebPageRank extends Workload {
  val name = "web-pagerank"
  val spans = Seq("extract.pages_to_edges", "core.renumber_map", "core.graph_build",
    "algos.pagerank", "core.decode")
  val TopK = 100
  val Cfg = PageRank.Config(alpha = 0.85, tol = 1e-6)

  def setup(ctx: Ctx, seed: Long, sz: Sizes): Prepared = {
    val dir = ctx.path("pages")
    PagesCorpus.write(PagesCorpus.pages(ctx.spark, seed, sz.pagerankScale, sz.edgeFactor), dir)
    new Prep(ctx, dir, seed, sz)
  }

  final class Prep(ctx: Ctx, dir: String, seed: Long, sz: Sizes) extends Prepared {
    private val anchors = (1L << sz.pagerankScale) * sz.edgeFactor
    private var want: Gate.PageRankRef = _

    def reference(): Unit = {
      val e = (0L until anchors).map(i => Rmat.edge(seed, i, sz.pagerankScale))
      val src = e.map(_._1).toArray
      val dst = e.map(_._2).toArray
      val v = Oracles.ids(src ++ dst)
      val (pr, it) = Oracles.pagerank(v, src, dst, Cfg.alpha, Cfg.tol, Cfg.maxIter)
      want = Gate.PageRankRef(
        v.sorted.indices.map(i => PagesCorpus.urlOf(v.sorted(i)) -> pr(i)).toMap, it)
    }

    def run(tr: Tracer, traced: Boolean): Outputs = {
      val spark = ctx.spark
      val p = ctx.parts
      val pages = PagesCorpus.read(spark, dir)
      var cached = List.empty[DataFrame]
      var counts = Map.empty[String, Long]
      def force(name: String, df: DataFrame): DataFrame = {
        val c = df.persist()
        cached ::= c
        counts += name -> c.count()
        c
      }
      val (urlMap, g) =
        if (traced) {
          val edgeUrls = tr.span("extract.pages_to_edges") {
            force("extract.pages_to_edges", LinkExtractor.pagesToEdges(pages))
          }
          val urlMap = tr.span("core.renumber_map") {
            force("core.renumber_map", Renumber.buildMap(edgeUrls, p))
          }
          val g = tr.span("core.graph_build") {
            val g = LinkGraph(Renumber.encode(edgeUrls, urlMap), directed = true, p).cached()
            counts += "core.graph_build" -> g.edges.count()
            g
          }
          (urlMap, g)
        } else tr.span("core.graph_build") {
          val b = WebGraph.fromPages(pages, p)
          val g = b.graph.cached()
          counts += "core.graph_build" -> g.edges.count()
          (b.urlMap, g)
        }
      val r = tr.superstep("algos.pagerank")((r: PageRank.Result) => r.iterations) {
        PageRank.run(g, Cfg)
      }
      val top = tr.span("core.decode") {
        WebGraph.withUrls(r.ranks, urlMap)
          .orderBy(desc("pagerank"), asc("url")).limit(TopK)
          .select("url").collect().map(_.getString(0)).toSeq
      }
      val opNames = tr.spans.map(_.name)
      new Outputs {
        val ops = opNames
        val edges = Map("algos.pagerank" -> counts("core.graph_build"))
        def check(t: Tamper): Map[String, Seq[String]] = {
          val ranks = t.ranks(WebGraph.withUrls(r.ranks, urlMap).select("url", "pagerank")
            .collect().iterator.map(x => x.getString(0) -> x.getDouble(1)).toMap)
          val nv = want.ranks.size.toLong
          Map(
            "extract.pages_to_edges" -> Gate.equal("anchors", counts.get("extract.pages_to_edges"), anchors),
            "core.renumber_map" -> Gate.equal("vertices", counts.get("core.renumber_map"), nv),
            "core.graph_build" -> Gate.equal("edges", counts.get("core.graph_build"), anchors),
            "algos.pagerank" -> Gate.pagerank(ranks, r.iterations, want),
            "core.decode" -> Gate.topUrls(top, want, TopK)
          ).filter { case (op, _) => ops.contains(op) }
        }
        def release(): Unit = { g.unpersist(); cached.foreach(_.unpersist()) }
      }
    }

    def release(): Unit = Workloads.delete(new File(dir))
  }
}

/**
 * WCC, a WCC run killed half-way with a checkpoint committed every
 * superstep and then resumed, label propagation and triangles, all over
 * the symmetrized web graph.
 */
object WebCommunities extends Workload {
  val name = "web-communities"
  val spans = Seq("core.symmetrize", "algos.wcc", "checkpoint.killed_run",
    "checkpoint.restore", "checkpoint.resumed_run", "algos.lpa", "algos.triangles")
  val Algo = "wcc"
  /** Label propagation supersteps: half the default 20, so that a run
   * fits three timed pipelines; each superstep does the same work. */
  val Lpa = LabelPropagation.Config(maxIter = 10)

  /** Two pages beyond the corpus' id range that link only to each
   * other. Synchronous LPA swaps their labels forever, so every seed runs
   * the full `maxIter` supersteps instead of stopping early on some
   * corpora and not on others. */
  def isolatedPair(spark: SparkSession, seed: Long, scale: Int): Dataset[Page] = {
    import spark.implicits._
    val (a, b) = (1L << scale, (1L << scale) + 1)
    Seq(a -> b, b -> a).map { case (v, to) =>
      val html = PagesCorpus.htmlOf(seed, v, Seq(to), "en")
      Page(PagesCorpus.urlOf(v), new Timestamp(PagesCorpus.Epoch + v * 1000L),
        html.getBytes("UTF-8"), LinkExtractor.extractText(html), "en")
    }.toDS()
  }

  def setup(ctx: Ctx, seed: Long, sz: Sizes): Prepared = {
    val dir = ctx.path("pages")
    PagesCorpus.write(PagesCorpus.pages(ctx.spark, seed, sz.communityScale, sz.edgeFactor)
      .union(isolatedPair(ctx.spark, seed, sz.communityScale)), dir)
    val g = WebGraph.fromPages(PagesCorpus.read(ctx.spark, dir), ctx.parts).graph.cached()
    g.edges.count()
    new Prep(ctx, g, dir)
  }

  final class Prep(ctx: Ctx, g: LinkGraph, dir: String) extends Prepared {
    private var want: Gate.CommunityRef = _
    private val ckpt = ctx.path("checkpoints")

    def reference(): Unit = {
      val e = g.edges.select("src", "dst").collect()
      want = Gate.CommunityRef(e.map(_.getLong(0)), e.map(_.getLong(1)), Lpa.maxIter)
    }

    def run(tr: Tracer, traced: Boolean): Outputs = {
      var symEdges = 0L
      val sym = tr.span("core.symmetrize") {
        val s = g.symmetrize.cached()
        symEdges = s.edges.count()
        s
      }
      val it = (r: ConnectedComponents.Result) => r.iterations
      val wcc = tr.superstep("algos.wcc")(it) { ConnectedComponents.run(sym) }
      // The "killed" job stops half-way; the same call without the cap
      // resumes from its last committed superstep.
      val killAt = math.max(1, wcc.iterations / 2)
      val cm = new CheckpointManager(ckpt, ctx.spark)
      val cfg = ConnectedComponents.Config(checkpointEvery = 1, checkpoint = Some(cm), algoName = Algo)
      val killed = tr.superstep("checkpoint.killed_run")(it) {
        ConnectedComponents.run(sym, cfg.copy(maxIter = killAt))
      }
      val restored =
        if (!traced) None
        else tr.span("checkpoint.restore") {
          cm.latestIteration(Algo).map(i => (i, cm.restore(Algo, i).count()))
        }
      val resumed = tr.superstep("checkpoint.resumed_run")(it) { ConnectedComponents.run(sym, cfg) }
      val lpa = tr.superstep("algos.lpa")((r: LabelPropagation.Result) => r.iterations) {
        LabelPropagation.run(sym, Lpa)
      }
      val tri = tr.span("algos.triangles") { TriangleCount.run(sym) }
      val opNames = tr.spans.map(_.name)
      new Outputs {
        val ops = opNames
        val edges = Seq("algos.wcc", "checkpoint.killed_run", "checkpoint.resumed_run", "algos.lpa")
          .map(_ -> symEdges).toMap
        def check(t: Tamper): Map[String, Seq[String]] = {
          val plain = Workloads.longMap(wcc.components)
          Map(
            "core.symmetrize" -> Gate.equal("symmetric edges", Some(symEdges), want.symEdges),
            "algos.wcc" -> Gate.exact("component", t.longs("algos.wcc", plain), want.wcc),
            "checkpoint.killed_run" -> (
              Gate.equal("killed iterations", Some(killed.iterations.toLong), killAt.toLong) ++
                (if (killed.converged && killAt < wcc.iterations) Seq("killed run converged early") else Nil)),
            "checkpoint.restore" -> (
              Gate.equal("restored iteration", restored.map(_._1.toLong), killAt.toLong) ++
                Gate.equal("restored rows", restored.map(_._2), want.wcc.size.toLong)),
            "checkpoint.resumed_run" -> (
              Gate.exact("resumed component",
                t.longs("checkpoint.resumed_run", Workloads.longMap(resumed.components)), plain) ++
                Gate.equal("resumed iterations", Some(resumed.iterations.toLong), wcc.iterations.toLong)),
            "algos.lpa" -> (
              Gate.exact("label", t.longs("algos.lpa", Workloads.longMap(lpa.labels)), want.lpa) ++
                Gate.equal("lpa iterations", Some(lpa.iterations.toLong), want.lpaIters.toLong)),
            "algos.triangles" -> Gate.exact("triangles",
              t.longs("algos.triangles", Workloads.longMap(tri)), want.triangles)
          ).filter { case (op, _) => ops.contains(op) }
        }
        def release(): Unit = { sym.unpersist(); Workloads.delete(new File(ckpt)) }
      }
    }

    def release(): Unit = { g.unpersist(); Workloads.delete(new File(dir)) }
  }
}
