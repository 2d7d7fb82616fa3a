package graft.ops

/** Overlap INDEPENDENT eager sub-jobs of one query (guide §2.6): a
  * query that materializes several unrelated subtrees (audits that
  * fit two models plus an exact baseline, say) otherwise runs them
  * strictly one after another, leaving most cores idle through each
  * chain's small sequential jobs. Spark's scheduler happily runs
  * jobs from several driver threads at once and FIFO back-fills the
  * tail of one chain with the next chain's tasks.
  *
  * DETERMINISM: safe only for thunks whose VALUES are independent of
  * scheduling — every use here materializes (pins) a
  * subtree whose content is a pure function of its inputs; only the
  * wall-clock interleaving changes. Never use it around
  * driver-observed convergence loops whose iteration count could
  * race.
  */
private[graft] object Par {

  /** Run the thunks on their own threads, return their results in
    * declaration order, propagate the first failure. */
  def run[A](thunks: (() => A)*): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(
        thunks.map(t => new java.util.concurrent.Callable[A] {
          override def call(): A = t()
        }: java.util.concurrent.Callable[A]).asJava)
      futures.asScala.toSeq.map(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }
}
