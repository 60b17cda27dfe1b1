package perfbench

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.array.{Block, DMatrix, LinAlg}
import graft.delayed.{DaskGraph, Delayed}

/** One job of a workload, as the plan file describes it. `expect` holds
  * the reference result the benchmark computed from the seed (closed
  * forms, plain-loop reductions) or from the DuckDB oracle. */
final case class Job(name: String, kind: String, buildSpan: String, execSpan: String,
                     params: JsonNode, expect: JsonNode) {
  def int(k: String): Int = params.get(k).asInt
  def long(k: String): Long = params.get(k).asLong
  def longs(k: String): Array[Long] = params.get(k).elements.asScala.map(_.asLong).toArray
}

object Job {
  def parse(n: JsonNode): Job = Job(n.get("name").asText, n.get("kind").asText,
    n.path("build_span").asText(""), n.path("exec_span").asText(""),
    n.path("params"), n.path("expect"))
}

/** Outcome of one job: `wrong` is set when the job returned a result that
  * differs from the reference; an exception propagates to the caller. */
final case class Outcome(wrong: Option[String], flops: Double)

/** Runs jobs through the layers' public functions only, each call wrapped
  * in a span named for the layer it enters. */
final class Jobs(spark: SparkSession, span: Spans) {

  def run(job: Job): Outcome = job.kind match {
    case "entry" => entry(job)
    case "gemm" => gemm(job)
    case "tsqr" => tsqr(job)
    case "dag_tree" => dagTree(job)
    case "dag_fanout" => dagFanout(job)
    case "dag_chains" => dagChains(job)
    case "dask_graph" => daskGraph(job)
    case other => throw new IllegalArgumentException(s"unknown job kind $other")
  }

  private def wrongIf(cond: Boolean, msg: => String) = Outcome(if (cond) Some(msg) else None, 0.0)

  // ---- SparkEntry.queries fixture jobs, checked against the oracle digest

  private def entry(job: Job): Outcome = {
    val fn = graft.SparkEntry.queries(job.name)
    val df = span(job.buildSpan)(fn(spark, job.params.get("fixture").asText))
    val rows = span(job.execSpan)(df.collect())
    span("check") {
      val got = Digest.of(df.schema, rows)
      val want = Digest.Value(job.expect.get("rows").asLong,
        job.expect.get("columns").asText, job.expect.get("sum").asText)
      wrongIf(got != want, s"digest $got, oracle $want")
    }
  }

  // ---- array: seeded block matrices through DMatrix / LinAlg

  /** A seeded input matrix, persisted and materialized in the `array.gen` span. */
  private def pinned(m: Long, n: Long, bs: Int, seed: Long, mod: Long): DMatrix =
    span("array.gen") {
      val x = DMatrix.randInt(spark, m, n, bs, seed, mod).persist()
      x.blocks.count()
      x
    }

  /** Compares the distributed row sums of `m` with exact integers. */
  private def checkRowSums(m: DMatrix, want: Array[Long]): Option[String] = {
    val got = m.sumAxis1.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bad = want.indices.filter(i => got.get(i.toLong).forall(_ != want(i).toDouble))
    if (got.size != want.length) Some(s"${got.size} row sums, want ${want.length}")
    else if (bad.nonEmpty) Some(s"${bad.size} row sums differ, first row ${bad.head}: " +
      s"${got.get(bad.head.toLong)} vs ${want(bad.head)}")
    else None
  }

  private def gemm(job: Job): Outcome = {
    val (n, bs, mod) = (job.long("n"), job.int("bs"), job.long("mod"))
    val a = pinned(n, n, bs, job.long("seed_a"), mod)
    val b = pinned(n, n, bs, job.long("seed_b"), mod)
    try {
      val c = span("array.multiply")(a.multiply(b).persist())
      try {
        span("array.multiply")(c.blocks.count())
        val want = job.expect.get("row_sums").elements.asScala.map(_.asLong).toArray
        Outcome(span("check")(checkRowSums(c, want)).map("A·B: " + _), 2.0 * n * n * n)
      } finally c.unpersist()
    } finally { a.unpersist(); b.unpersist() }
  }

  private def tsqr(job: Job): Outcome = {
    val (m, n, bs) = (job.long("m"), job.long("n"), job.int("bs"))
    val a = pinned(m, n, bs, job.long("seed"), job.long("mod"))
    try {
      val r = span("array.factor")(LinAlg.tsqr(a))
      val res = span("check") {
        val g = r.t * r
        var sum = 0L; var trace = 0L
        for (i <- 0 until g.rows; j <- 0 until g.cols) {
          val v = math.round(g(i, j))
          sum += v
          if (i == j) trace += v
        }
        val (ws, wt) = (job.expect.get("gram_sum").asLong, job.expect.get("gram_trace").asLong)
        if (sum != ws || trace != wt) Some(s"RᵀR sum/trace $sum/$trace, want $ws/$wt") else None
      }
      Outcome(res, 2.0 * m * n * n - 2.0 / 3.0 * n * n * n)
    } finally a.unpersist()
  }

  // ---- delayed: seeded DAGs through Delayed / DaskGraph

  private def checkLong(got: Long, job: Job): Outcome = {
    val want = job.expect.get("value").asLong
    wrongIf(got != want, s"value $got, want $want")
  }

  /** Leaf task of the seeded DAGs: a small driver-local integer kernel. */
  private def leafWork(x: Long, rounds: Int): Long = {
    var v = x; var i = 0
    while (i < rounds) { v = (v * 6364136223846793005L + 1442695040888963407L) >>> 1; i += 1 }
    v % 1000003L
  }

  private def dagTree(job: Job): Outcome = {
    val leaves = job.longs("leaves")
    val rounds = job.int("rounds")
    val root = span("delayed.build") {
      Delayed.treeReduce(leaves.toSeq.map(x => Delayed(leafWork(x, rounds))))(_ + _)
    }
    val got = span("delayed.eval")(root.compute())
    span("check")(checkLong(got, job))
  }

  private def dagFanout(job: Job): Outcome = {
    val consts = job.longs("consts")
    val rounds = job.int("rounds")
    val root = span("delayed.build") {
      val src = Delayed.value(job.long("root"))
      val kids = consts.toSeq.map(c => src.map(r => leafWork(r ^ c, rounds)))
      Delayed.sequence(kids).map(_.sum)
    }
    val got = span("delayed.eval")(root.compute())
    span("check")(checkLong(got, job))
  }

  private def dagChains(job: Job): Outcome = {
    val steps = job.longs("steps")
    val (chains, depth) = (job.int("chains"), job.int("depth"))
    val root = span("delayed.build") {
      val ends = (0 until chains).map { c =>
        (0 until depth).foldLeft(Delayed.value(c.toLong)) { (acc, i) =>
          val s = steps(c * depth + i)
          acc.map(v => (v * 31 + s) % 1000000007L)
        }
      }
      Delayed.treeReduce(ends)(_ + _)
    }
    val got = span("delayed.eval")(root.compute())
    span("check")(checkLong(got, job))
  }

  /** A raw Dask graph spec: task k sums its dependencies' values plus a
    * seeded constant, modulo a prime; the keys asked for are the sinks. */
  private def daskGraph(job: Job): Outcome = {
    val deps = job.params.get("deps").elements.asScala.map(_.elements.asScala.map(_.asInt).toSeq).toIndexedSeq
    val consts = job.longs("consts")
    val sinks = job.params.get("sinks").elements.asScala.map(k => s"k${k.asInt}").toSeq
    val dsk = span("delayed.build") {
      deps.indices.map { k =>
        val c = consts(k)
        s"k$k" -> (DaskGraph.GraphTask(
          args => (args.map(_.asInstanceOf[Long]).sum + c) % 1000000007L,
          deps(k).map(d => s"k$d")): Any)
      }.toMap
    }
    val got = span("delayed.eval")(DaskGraph.get(dsk, sinks)).map(_.asInstanceOf[Long]).sum
    span("check")(checkLong(got, job))
  }
}

/** Known defects, run once after the timed loop of a traced run at their
  * real sizes. Each probe reports whether the operation succeeded. */
final class Probes(spark: SparkSession) {

  /** Runs `body` on a fresh thread with the JVM's default stack size, the
    * stack a caller's own thread would have. */
  private def onThread(body: => Boolean): Either[String, Boolean] = {
    @volatile var out: Either[String, Boolean] = Left("timed out")
    val t = new Thread(() => {
      out = try Right(body) catch { case e: Throwable => Left(e.getClass.getSimpleName) }
    }, "perfbench-probe")
    t.setDaemon(true)
    t.start()
    t.join(60000)
    out
  }

  /** Linear chain of `depth` increments through Delayed.compute. */
  def delayedChain(depth: Int): Either[String, Boolean] = onThread {
    (0 until depth).foldLeft(Delayed.value(0L))((acc, _) => acc.map(_ + 1)).compute() == depth
  }

  /** The same chain as a raw Dask graph through DaskGraph.get. */
  def graphChain(depth: Int): Either[String, Boolean] = onThread {
    val dsk: Map[String, Any] = (0 until depth).map { k =>
      s"k$k" -> (if (k == 0) 0L
                 else DaskGraph.GraphTask(a => a.head.asInstanceOf[Long] + 1, Seq(s"k${k - 1}")))
    }.toMap
    DaskGraph.get(dsk, Seq(s"k${depth - 1}")).head == depth - 1
  }

  /** Cholesky of a block-diagonal SPD matrix whose off-diagonal blocks are
    * absent (absent blocks mean zero). L·Lᵀ must round back to A. */
  def blockDiagonalCholesky(n: Int, bs: Int): Either[String, Boolean] = onThread {
    import spark.implicits._
    val nb = n / bs
    val blocks = (0 until nb).map { b =>
      val data = Array.tabulate(bs * bs) { k =>
        val (i, j) = (k % bs, k / bs)
        if (i == j) 2.0 * bs + (b + i) % 7 else ((i + j + b) % 5).toDouble / 10.0
      }
      Block(b, b, bs, bs, data)
    }
    val a = new DMatrix(spark.createDataset(blocks), n, n, bs)
    val l = LinAlg.choleskyLower(a)
    def tenths(m: DMatrix) = m.mapElements(x => math.rint(x * 10.0)).sumAxis1.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    tenths(l.multiply(l.transpose)) == tenths(a)
  }
}
