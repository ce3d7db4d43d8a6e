package perfbench

import graft.{Checkpoints, Graph, GraphIO}
import graft.functions.GraftHash
import graft.operators._
import graft.pipelines.Dedup
import graft.streaming.{Restart, Tws}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one job reports besides its output: the work units it consumed
  * (the numerator of `work_per_s`), the loop iterations it declared, and
  * its converged-kernel markers, if any. */
final case class JobResult(work: Double, iterations: Int = 0,
    markers: Map[String, Double] = Map.empty)

/** One job of a pass: `gate` names the engine gate whose output and
  * DuckDB oracle it shares. `run` writes the job's output to `out`. */
final case class Job(gate: String, run: (Ctx, String) => JobResult)

/** The state a workload's jobs share within one process. Every call into
  * an engine layer goes through `layer`, which records a span. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val tracer: Tracer) {
  var edges = 0L
  var undirectedEdges = 0L
  var documents = 0L
  var events = 0L
  val indexDir: String = s"$work/structidx"

  def layer[T](name: String, layer: String)(body: => T): T =
    tracer.span(name, layer)(body)

  def graph(): Graph = layer("GraphIO.orderGraph", "GraphIO") {
    GraphIO.orderGraph(spark, data)
  }

  /** Derives the order graph and materializes its persisted blocks. */
  def deriveGraph(): Unit = layer("GraphIO.orderGraph", "GraphIO") {
    val g = GraphIO.orderGraph(spark, data)
    edges = g.edges.count()
    g.nodes.count()
  }

  def evict(): Unit = layer("GraphIO.evict", "GraphIO") {
    GraphIO.evict(spark, data)
  }

  /** The job's sink: a parquet write of its result, after which the
    * result's checkpoints are released. */
  def sink(df: DataFrame, out: String): Unit = {
    try layer("sink", "sink")(df.write.mode("overwrite").parquet(out))
    finally layer("Checkpoints.releaseAll", "Checkpoints")(
      Checkpoints.releaseAll(df))
  }
}

/** A workload: its set-up and its pass of jobs. */
final case class Workload(name: String, setup: Ctx => Unit, jobs: Seq[Job])

object Workloads {
  private def scores(hubs: DataFrame, auths: DataFrame, digits: Int) =
    auths.select(lit("auth").as("kind"), col("id"),
        round(col("score"), digits).as("score"))
      .unionAll(hubs.select(lit("hub").as("kind"), col("id"),
        round(col("score"), digits).as("score")))
      .orderBy(col("kind"), col("id"))

  private def index(c: Ctx, bucketed: Boolean): DataFrame =
    c.layer("StructuralIndex.undirected", "StructuralIndex") {
      StructuralIndex.undirected(c.spark, c.indexDir, bucketed)
    }

  val rankLoop: Workload = Workload("rank_loop",
    c => { c.evict(); c.deriveGraph() },
    Seq(
      Job("hits_base", (c, out) => {
        val g = c.graph()
        val r = c.layer("Hits.run", "operators")(Hits.run(g))
        // the reference pipeline's ranked text sink, written before the
        // gate's sink releases the score checkpoints
        c.layer("RankOutput.writeScoresText", "RankOutput") {
          RankOutput.writeScoresText(r.auths, s"$out.text")
        }
        c.sink(scores(r.hubs, r.auths, 6), out)
        JobResult(c.edges.toDouble * 8, 8)
      }),
      Job("salsa_iterative", (c, out) => {
        val g = c.graph()
        val r = c.layer("Salsa.run", "operators")(Salsa.run(g))
        c.sink(scores(r.hubs, r.auths, 9), out)
        JobResult(c.edges.toDouble * 8, 8)
      }),
      Job("pagerank_converged", (c, out) => {
        import c.spark.implicits._
        val g = c.graph()
        val fp = c.layer("PageRank.runConverged", "operators") {
          PageRank.runConverged(g, 0.85, 5.8e-8, 60, checkEvery = 3,
            firstCheck = 13)
        }
        val conv = if (fp.converged) 1.0 else 0.0
        c.sink(fp.result.select(col("id"), round(col("score"), 9).as("score"))
          .unionAll(Seq(("n_iter", fp.iterations.toDouble),
            ("converged", conv)).toDF("id", "score"))
          .orderBy(col("id")), out)
        JobResult(c.edges.toDouble * fp.iterations, fp.iterations,
          Map("n_iter" -> fp.iterations.toDouble, "converged" -> conv))
      })))

  val structuralPeel: Workload = Workload("structural_peel",
    c => {
      c.evict()
      c.deriveGraph()
      c.layer("StructuralIndex.write", "StructuralIndex") {
        StructuralIndex.write(GraphIO.orderGraph(c.spark, c.data).edges,
          c.indexDir)
      }
      c.undirectedEdges = index(c, bucketed = false).count()
    },
    Seq(
      Job("graph_components_indexed", (c, out) => {
        val und = index(c, bucketed = false)
        val r = c.layer("ConnectedComponents.componentsOn", "operators") {
          ConnectedComponents.componentsOn(und)
        }
        c.sink(r, out)
        JobResult(c.undirectedEdges.toDouble)
      }),
      Job("graph_ktruss_indexed", (c, out) => {
        val und = index(c, bucketed = false)
        val r = c.layer("KTruss.runOn", "operators")(KTruss.runOn(und, 4))
        c.sink(r.orderBy(col("a"), col("b")), out)
        JobResult(c.undirectedEdges.toDouble)
      }),
      Job("graph_label_prop_indexed", (c, out) => {
        val seeds = c.graph().nodes
          .filter(GraftHash.graftHash(c.spark, col("id")) % 100 < 30)
          .select(col("id"), col("label"))
        val und = index(c, bucketed = true)
        val r = c.layer("LabelProp.runOn", "operators") {
          LabelProp.runOn(c.spark, und, seeds, 4)
        }
        c.sink(r.select(col("id"),
            coalesce(col("label"), lit("unlabeled")).as("label"))
          .orderBy(col("id")), out)
        JobResult(c.undirectedEdges.toDouble, 4)
      }),
      Job("graph_kcore_indexed", (c, out) => {
        val und = index(c, bucketed = true)
        val deg = c.layer("StructuralIndex.degrees", "StructuralIndex") {
          StructuralIndex.degrees(c.spark, c.indexDir)
        }
        val r = c.layer("KCore.runPreDegreed", "operators") {
          KCore.runPreDegreed(und, deg, 3)
        }
        c.sink(r.orderBy(col("id")), out)
        JobResult(c.undirectedEdges.toDouble)
      })))

  private def salsaSimplified(c: Ctx): Salsa.Result =
    c.layer("Salsa.runSimplified", "operators") {
      Salsa.runSimplified(c.graph().edges)
    }

  val graphIngest: Workload = Workload("graph_ingest",
    c => { c.evict(); c.deriveGraph() },
    Seq(
      Job("graph_degrees", (c, out) => {
        // cold: drop the persisted graph and derive it again from parquet
        c.evict()
        c.deriveGraph()
        val e = c.graph().edges
        val r = c.layer("Degrees", "operators") {
          Degrees.out(e).select(lit("out").as("kind"), col("id"),
              col("out_degree").as("degree"))
            .unionAll(Degrees.in(e).select(lit("in").as("kind"), col("id"),
              col("in_degree").as("degree")))
            .orderBy(col("kind"), col("id"))
        }
        c.sink(r, out)
        JobResult(c.edges.toDouble)
      }),
      Job("salsa_simplified", (c, out) => {
        val r = salsaSimplified(c)
        c.layer("RankOutput.writeScoresText", "RankOutput") {
          RankOutput.writeScoresText(r.auths, s"$out.text")
        }
        c.sink(scores(r.hubs, r.auths, 9), out)
        JobResult(c.edges.toDouble)
      }),
      Job("rank_topk", (c, out) => {
        val auths = salsaSimplified(c).auths
        val top = c.layer("RankOutput.topK", "RankOutput") {
          RankOutput.topK(auths, 10)
        }
        c.sink(top.select(col("id"), round(col("score"), 9).as("score")), out)
        JobResult(c.edges.toDouble)
      }),
      Job("graph_bucketed_write", (c, out) => {
        import c.spark.implicits._
        val g = c.graph()
        val prefix = "perfbench_bucketed"
        // the bucket count the engine's kernels would pick for this graph
        val width = graft.AdaptiveWidth.of(g.edges.select(col("src"),
          col("dst"), col("weight").cast("double").as("w")))
        c.layer("GraphIO.writeBucketedGraph", "GraphIO") {
          GraphIO.writeBucketedGraph(g, prefix, width)
        }
        val counts = c.layer("GraphIO.readBucketedGraph", "GraphIO") {
          val b = GraphIO.readBucketedGraph(c.spark, prefix)
          Seq("edges_by_dst" -> b.edges.count(),
            "edges_by_src" -> c.spark.table(s"${prefix}_edges_by_src").count(),
            "nodes" -> b.nodes.count())
        }
        c.sink(counts.toDF("bucket_table", "n_rows")
          .orderBy(col("bucket_table")), out)
        JobResult(c.edges.toDouble)
      })))

  private def docs(c: Ctx): DataFrame =
    c.layer("GraphIO.documents", "GraphIO")(GraphIO.documents(c.spark, c.data))

  val trainData: Workload = Workload("train_data",
    c => {
      c.documents = docs(c).count()
      c.events = c.layer("GraphIO.events", "GraphIO") {
        GraphIO.events(c.spark, c.data).count()
      }
    },
    Seq(
      Job("pipeline_near_dedup", (c, out) => {
        val d = docs(c)
        val r = c.layer("Dedup.nearDedupCorpus", "pipelines") {
          Dedup.nearDedupCorpus(c.spark, d)
        }
        c.sink(r, out)
        JobResult(c.documents.toDouble)
      }),
      Job("dedup_minhash_lsh", (c, out) => {
        val d = docs(c)
        val r = c.layer("Dedup.minhashLsh", "pipelines") {
          Dedup.minhashLsh(c.spark, d)
        }
        c.sink(r, out)
        JobResult(c.documents.toDouble)
      }),
      Job("stream_restart_tws", (c, out) => {
        val ev = c.layer("GraphIO.events", "GraphIO") {
          GraphIO.events(c.spark, c.data)
            .withColumn("ts", expr("ts div 1000 * 1000"))
        }
        val r = c.layer("Restart.twoPhaseDrain", "streaming") {
          Tws.withRocksDbStateStore(c.spark) {
            Restart.twoPhaseDrain(c.spark, ev, "tws", c.data,
              src => Tws.sessionizeStreamTws(c.spark, src,
                watermarkDelay = "0 seconds").toDF())
          }
        }
        c.sink(r.select(col("user_id"), col("n_events"),
            expr("dur_ns div 1000").as("dur_us"))
          .orderBy(col("user_id"), col("n_events"), col("dur_us")), out)
        JobResult(c.events.toDouble)
      })))

  val all: Map[String, Workload] =
    Seq(rankLoop, structuralPeel, graphIngest, trainData)
      .map(w => w.name -> w).toMap
}
