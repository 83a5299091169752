package graft.exec

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors,
  ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** The one executor of graft's dependency graphs: the warehouse
  * refresh's tables ([[Runner]]) and the curation pipeline's steps
  * ([[graft.pipeline.CurationPipeline]]).
  *
  * A node's level is `1 + max(level of its deps among the nodes)`; a
  * dep that names no node is an input (a source table) and adds no
  * edge. Levels run one after another; the nodes of one level run side
  * by side (see [[runLevel]]). The session's FIFO scheduling suffices
  * for the warehouse refresh: a derived table's jobs were measured to
  * be a few one-task stages, so it is running tables side by side, not
  * sharing cores within a job, that keeps the other cores busy. What
  * running pipeline branches side by side does to wall time and driver
  * memory has not been measured.
  */
private[graft] object Dag {

  /** One unit of work. `label` describes every Spark job `body` runs. */
  final case class Node[T](name: String, deps: Seq[String], label: String, body: () => T)

  /** Name prefix of the threads that run a level's nodes. */
  val ThreadPrefix = "graft-dag-"

  /** The nodes grouped by level, lowest first, each level in node order.
    * Fails loud on a duplicate name or a dep that names a later node:
    * the nodes must come in a topological order. */
  private def levels[T](nodes: Seq[Node[T]]): Seq[Seq[Node[T]]] = {
    val position = nodes.map(_.name).zipWithIndex.toMap
    require(position.size == nodes.size,
      s"duplicate node names: ${nodes.map(_.name).diff(position.keys.toSeq).distinct.mkString(", ")}")
    val level = scala.collection.mutable.Map.empty[String, Int]
    nodes.zipWithIndex.foreach { case (n, i) =>
      val inner = n.deps.filter(position.contains)
      inner.find(position(_) >= i).foreach(d => throw new IllegalArgumentException(
        s"node ${n.name} depends on $d, which does not come before it"))
      level(n.name) = 1 + inner.map(level).maxOption.getOrElse(0)
    }
    nodes.groupBy(n => level(n.name)).toSeq.sortBy(_._1).map(_._2)
  }

  /** Run every node, level by level; returns the results in node order.
    * A failed level ends the run: no later level starts. */
  def run[T](spark: SparkSession, nodes: Seq[Node[T]]): Seq[T] = {
    val results = levels(nodes).flatMap(l => l.map(_.name).zip(runLevel(spark, l))).toMap
    nodes.map(n => results(n.name))
  }

  /** Run one level: each node on a pool of `min(level size,
    * defaultParallelism)` daemon threads, every Spark job of a body
    * described by its label. Waits for every body before it returns
    * their results in node order or rethrows the first failure, in node
    * order, as thrown — so a level never overlaps the next, and a
    * failed level leaves nothing running behind the caller's writer
    * lease. The caller's own job description is never touched. */
  private def runLevel[T](spark: SparkSession, level: Seq[Node[T]]): Seq[T] = {
    val sc      = spark.sparkContext
    val ids     = new AtomicInteger()
    val workers = new ConcurrentLinkedQueue[Thread]()
    val factory: ThreadFactory = { r =>
      val t = new Thread(r, s"$ThreadPrefix${ids.incrementAndGet()}")
      t.setDaemon(true)
      workers.add(t)
      t
    }
    val pool = Executors.newFixedThreadPool(math.min(level.size, sc.defaultParallelism), factory)
    try {
      // workers start on submit and inherit a copy of the caller's
      // local properties, so the labels set on them never reach the
      // caller's later jobs
      val futures = level.map { n =>
        pool.submit(new Callable[T] {
          def call(): T = { sc.setJobDescription(n.label); n.body() }
        })
      }
      val outcomes = futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collectFirst { case Left(e) => throw e }
      outcomes.collect { case Right(t) => t }
    } finally {
      // joined, not just terminated: no worker outlives its level
      pool.shutdown()
      workers.forEach(_.join())
    }
  }
}
