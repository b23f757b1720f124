package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, LinkedBlockingQueue,
  ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs independent Spark actions at the same time, the way dbt runs every
  * ready node of its DAG on `threads` workers.
  *
  * Each call gets its own pool of at most `defaultParallelism` threads. All
  * of them are started by the calling thread before any action runs, so they
  * inherit its Spark local properties (job group, scheduler pool, tags) and
  * its active session: both are `InheritableThreadLocal`s, cloned when a
  * thread is created. A shared or global pool would carry whatever caller
  * happened to create its threads.
  *
  * After a failure no further action starts. The call returns or throws only
  * once every started action has finished, so no job outlives it; the first
  * failure is rethrown as its original type, later ones are attached to it
  * as suppressed.
  */
object Concurrently {

  /** Runs every action at once; results in input order. */
  def apply[T](spark: SparkSession)(actions: Seq[() => T]): Seq[T] =
    dag(spark, actions.indices)(_ => Nil)(i => actions(i)())

  /** Runs `run(k)` for each key as soon as `run` has returned for every key
    * in `deps(k)`; results in key order. Keys must be distinct, and `deps`
    * must name only keys and form no cycle.
    */
  def dag[K, T](spark: SparkSession, keys: Seq[K])(deps: K => Seq[K])(run: K => T): Seq[T] =
    if (keys.isEmpty) Nil
    else {
      val threads = math.min(keys.size, math.max(1, spark.sparkContext.defaultParallelism))
      val ids = new AtomicInteger()
      val factory: ThreadFactory = r => {
        val t = new Thread(r, s"graft-concurrently-${ids.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
      val pool = new ThreadPoolExecutor(threads, threads, 0L, TimeUnit.MILLISECONDS,
        new LinkedBlockingQueue[Runnable](), factory)
      pool.prestartAllCoreThreads()
      val done = new ExecutorCompletionService[(K, T)](pool)
      val waiting = mutable.LinkedHashMap(keys.map(k => k -> deps(k).toSet): _*)
      val results = mutable.HashMap.empty[K, T]
      var running = 0
      var failure: Throwable = null
      def startReady(): Unit = {
        val ready = waiting.collect { case (k, ds) if ds.isEmpty => k }.toList
        ready.foreach { k =>
          waiting -= k
          done.submit(() => k -> run(k))
          running += 1
        }
      }
      try {
        startReady()
        while (running > 0) {
          val f = done.take()
          running -= 1
          try {
            val (k, v) = f.get()
            results(k) = v
            if (failure == null) {
              waiting.mapValuesInPlace((_, ds) => ds - k)
              startReady()
            }
          } catch {
            case e: ExecutionException =>
              if (failure == null) failure = e.getCause
              else if (e.getCause ne failure) failure.addSuppressed(e.getCause)
          }
        }
      } finally {
        pool.shutdown()
        var interrupted = false
        while (!pool.isTerminated)
          try pool.awaitTermination(1, TimeUnit.SECONDS)
          catch { case _: InterruptedException => interrupted = true }
        if (interrupted) Thread.currentThread().interrupt()
      }
      if (failure != null) throw failure
      require(waiting.isEmpty,
        s"dependencies never satisfied (cycle or unknown key): ${waiting.keys.mkString(",")}")
      keys.map(results)
    }
}
