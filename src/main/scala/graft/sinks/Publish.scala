package graft.sinks

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Publication of one write's staged data files into its table. */
private[sinks] object Publish {

  /** Uploads in flight at once. Each buffers a whole data file (bounded by
    * `maxRecordsPerFile`), so the pool stays small.
    */
  private val MaxInFlight = 4

  /** Runs `upload` over every item concurrently, on a pool of one thread
    * per item up to [[MaxInFlight]], and returns the results in item order.
    * When any upload fails, it waits for all of them, `reclaim`s every
    * result that did land and rethrows the first failure in item order —
    * the reference's whole-write abort (delta_destination.rs:120-229): an
    * uncommitted transaction leaves zero bytes behind.
    */
  def all[A, B](items: Seq[A])(upload: A => B)(reclaim: B => Unit): Seq[B] =
    if (items.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(items.size, MaxInFlight))
      try {
        val outcomes = items
          .map(a => pool.submit(new Callable[B] { def call(): B = upload(a) }))
          .map(f => try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) })
        outcomes.collectFirst { case Left(e) => e } match {
          case None => outcomes.collect { case Right(b) => b }
          case Some(e) =>
            outcomes.foreach { case Right(b) => scala.util.Try(reclaim(b)); case _ => () }
            throw e
        }
      } finally pool.shutdown()
    }

  /** Uploads each staged local file to its absolute table path through
    * `os`, with [[all]]'s abort semantics.
    */
  def files(os: ObjectStore, staged: Seq[(File, String)]): Unit =
    all(staged) { case (f, target) =>
      os.putObject(Paths.get(target), Files.readAllBytes(f.toPath))
      target
    }(target => os.deleteObject(Paths.get(target))): Unit
}
