package graft.core

/** Retry classification for transient database errors.
  *
  * Faithful to the reference classifier (`src/floorist/floorist.py:31-63`):
  * an error is retryable iff its message contains one of four substrings;
  * `evaluate` returns RETRY until the attempt budget is spent
  * (exhausted at `attempt >= MaxRetries - 1`), FAILURE for anything
  * non-retryable. Backoff is `RetryDelaySeconds * 2^attempt` seconds (5s,
  * 10s, asserted by `tests/test_floorist_standalone.py:204-230`).
  */
object RetryPolicy {
  sealed trait Outcome
  case object Retry extends Outcome
  case object Failure extends Outcome
  case object Exhausted extends Outcome

  val MaxRetries = 3
  val RetryDelaySeconds = 5L

  private val RetryableSubstrings = Seq(
    "SerializationFailure",
    "conflict with recovery",
    "PendingRollbackError",
    "invalid transaction")

  /** Walks the cause chain: Spark wraps source exceptions (e.g.
    * `SparkException: Exception thrown in awaitResult` around a
    * PSQLException), so the retryable text may sit levels down. */
  def isRetryable(ex: Throwable): Boolean = {
    var cur = ex
    var depth = 0
    while (cur != null && depth < 10) {
      val msg = String.valueOf(cur)
      if (RetryableSubstrings.exists(msg.contains)) return true
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    false
  }

  def evaluate(ex: Throwable, attempt: Int): Outcome =
    if (!isRetryable(ex)) Failure
    else if (attempt >= MaxRetries - 1) Exhausted
    else Retry

  /** Seconds to sleep before retry number `attempt + 1`. */
  def backoffSeconds(attempt: Int): Long =
    RetryDelaySeconds * (1L << attempt)
}
