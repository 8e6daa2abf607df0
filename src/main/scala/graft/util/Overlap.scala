package graft.util

import scala.util.{Failure, Success, Try}

/** Runs independent driver-side actions concurrently on one
  * SparkContext. The daily batch issues many small jobs (a gzip dump or
  * a small mart is one or two tasks), so one driver thread leaves most
  * cores idle while it plans the next job; a SparkContext accepts jobs
  * from several threads, and the scheduler fills the free cores with
  * them.
  *
  * Each call starts one fresh thread per task. A new thread inherits the
  * caller's SparkContext local properties (job group, job description)
  * and its active SparkSession; a long-lived pooled thread would keep
  * whatever it inherited when the pool created it. A single task runs on
  * the caller's thread.
  */
object Overlap {

  /** Run `tasks` concurrently and return their results in input order.
    * Every thread is joined before the call returns or throws, so no
    * action it started is still running afterwards; if tasks failed, the
    * first failure in input order is rethrown (the others attached as
    * suppressed) once all siblings have finished. */
  def all[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val results = new Array[Try[T]](tasks.size)
      val threads = tasks.zipWithIndex.map { case (task, i) =>
        val t = new Thread(() => results(i) =
          try Success(task()) catch { case e: Throwable => Failure(e) },
          s"graft-overlap-$i")
        t.setDaemon(true)
        t.start()
        t
      }
      // an interrupt of the caller must not return while tasks still run
      var interrupted = false
      threads.foreach { t =>
        while (t.isAlive)
          try t.join()
          catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
      results.collect { case Failure(e) => e }.toList match {
        case first :: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case Nil => results.toSeq.map(_.get)
      }
    }
}
