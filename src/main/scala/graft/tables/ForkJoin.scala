package graft.tables

import scala.util.{Failure, Success, Try}

/** Fork-join for independent driver-side work: each thunk runs on a
  * fresh thread that the calling thread starts, and the call returns
  * only after EVERY thunk has finished, with one `Try` per thunk in the
  * order given. Nothing is inspected or cancelled early, so a caller
  * cleans up knowing that no thunk is still writing or still reading
  * what it is about to release.
  *
  * Fresh threads, never a shared pool: a thread inherits its creator's
  * `SparkContext` local properties (job group, description, scheduler
  * pool, SQL execution id) and active session, so a thunk's Spark jobs
  * run under the caller's job group, and cancelling that group (what
  * `StreamingQuery.stop()` does) cancels them too. A reused pool thread
  * would keep whatever properties its first creator had.
  *
  * An interrupt of the waiting thread is passed on to every thunk's
  * thread; the wait then still runs to the end, and the caller's
  * interrupt status is restored before returning.
  */
private[graft] object ForkJoin {

  def all[A](thunks: Seq[() => A]): Seq[Try[A]] = {
    val results = new Array[Try[A]](thunks.size)
    val threads = thunks.zipWithIndex.map { case (f, i) =>
      new Thread(() => results(i) =
        try Success(f()) catch { case e: Throwable => Failure(e) },
        s"${Thread.currentThread.getName}-fork-$i")
    }
    threads.foreach(_.start())
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException =>
          interrupted = true
          threads.foreach(_.interrupt())
        }
    }
    if (interrupted) Thread.currentThread.interrupt()
    results.toSeq
  }

  /** [[all]] over two thunks of different result types. */
  def pair[A, B](a: () => A, b: () => B): (Try[A], Try[B]) = {
    val Seq(ra, rb) = all[Any](Seq(a, b))
    (ra.asInstanceOf[Try[A]], rb.asInstanceOf[Try[B]])
  }

  /** The first failure in thunk order, the others attached to it as
    * suppressed; `None` when every thunk succeeded.
    */
  def firstFailure(results: Seq[Try[_]]): Option[Throwable] = {
    val errs = results.collect { case Failure(e) => e }.distinct
    errs.headOption.map { first => errs.tail.foreach(first.addSuppressed); first }
  }
}
