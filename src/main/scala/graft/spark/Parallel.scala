package graft.spark

/** Independent Spark actions submitted together, so the scheduler
  * overlaps their jobs instead of paying each one's fixed cost in turn.
  *
  * Each call creates its own driver threads. Spark's local properties
  * (job tags, the job group, the SQL execution id and any property a
  * caller set) are inheritable thread-locals copied when a thread is
  * created, so every job an action submits carries the caller's
  * properties. A pooled thread would carry the properties of whichever
  * call happened to create it. */
object Parallel {

  /** Runs every action on its own thread and returns their results in
    * order. Waits for all of them; if any failed, rethrows the failure
    * of the earliest failing action, with the others attached as
    * suppressed. */
  def all[T](actions: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](actions.size)
    val failures = new Array[Throwable](actions.size)
    val threads = actions.zipWithIndex.map { case (a, i) =>
      val t = new Thread(() =>
        try results(i) = a()
        catch { case e: Throwable => failures(i) = e }, s"graft-parallel-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => results.toSeq.asInstanceOf[Seq[T]]
    }
  }
}
