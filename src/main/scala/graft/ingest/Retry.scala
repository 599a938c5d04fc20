package graft.ingest

/** Driver-side source retry with linear backoff — the S1 fetch
  * discipline (etl_job.py:64-80: timeout 30 s, 3 attempts, backoff
  * attempt×2 s). Task-level retries inside Spark cover the execution
  * side; this wraps the driver-side extract call that feeds
  * [[IngestBatch.parseDeclared]]. */
object Retry {
  /** Run `fetch`, retrying up to `attempts` times with `backoffMs ×
    * attempt` sleeps between failures; rethrows the last error. Only
    * non-fatal errors are retried — OutOfMemoryError and friends
    * propagate immediately, and an interrupt during the backoff sleep
    * aborts the loop with the flag restored. */
  def withBackoff[T](attempts: Int = 3, backoffMs: Long = 2000)(fetch: => T): T = {
    var last: Throwable = null
    var i = 1
    while (i <= attempts) {
      try return fetch
      catch {
        case e if scala.util.control.NonFatal(e) =>
          last = e
          if (i < attempts)
            try Thread.sleep(backoffMs * i)
            catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt()
                e.addSuppressed(ie)
                throw e
            }
      }
      i += 1
    }
    throw last
  }
}
