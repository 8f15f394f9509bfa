package graft.stream

import org.apache.spark.sql.streaming.StreamingQuery

/**
 * OP-01 live-source lifecycle (reference
 * TweetGateCore/TwitterStream.cs:82-113): when a long-lived source
 * connection drops, reconnect — but treat a failure as "flapping" only
 * when the previous incarnation stayed up less than `minUptime`
 * (the reference's min-uptime guard), back off between short-lived
 * restarts, and give up after `maxShortLived` consecutive short-lived
 * failures. A long-lived incarnation resets the flap counter.
 *
 * In Spark the source itself (socket/kafka/file) owns transport-level
 * retries inside a running query; what the engine must own — and what
 * the reference implements by hand — is the restart policy AROUND the
 * query. This supervisor is that policy, factored so the loop is
 * unit-testable with a fake clock (StreamSupervisorSpec) and bound to
 * `StreamingQuery` for production use.
 */
object StreamSupervisor {

  /** What the loop did: total restarts, consecutive-short-lived count at
    * exit, and whether it gave up (vs a graceful stop). */
  final case class Outcome(restarts: Int, shortLived: Int, gaveUp: Boolean)

  /**
   * Generic supervision loop. `start` launches one incarnation; `run`
   * blocks until it terminates and returns its failure, if any. Returns
   * on graceful termination (`run` → None) or after more than
   * `maxShortLived` consecutive short-lived failures.
   */
  def superviseLoop[Q](start: () => Q, run: Q => Option[Throwable],
      minUptimeMs: Long, backoffMs: Long, maxShortLived: Int,
      now: () => Long = System.currentTimeMillis,
      sleep: Long => Unit = Thread.sleep): Outcome = {
    var restarts = 0
    var consecutiveShort = 0
    while (true) {
      val t0 = now()
      // start() failures count as zero-uptime incarnations: a source
      // that cannot even be (re)created is the flapping case the policy
      // exists for — letting the exception escape would bypass backoff
      // and the give-up bound entirely. Only NonFatal failures are
      // policy material: fatal VM errors propagate (restarting after an
      // OutOfMemoryError is indefinite-restart territory), and an
      // interrupt means "stop supervising" — restore the flag and exit.
      val failure =
        try run(start())
        catch {
          case e: InterruptedException =>
            Thread.currentThread().interrupt(); throw e
          case scala.util.control.NonFatal(e) => Some(e)
        }
      val uptime = now() - t0
      failure match {
        case None =>
          return Outcome(restarts, consecutiveShort, gaveUp = false)
        case Some(_) =>
          if (uptime >= minUptimeMs) consecutiveShort = 0
          else {
            consecutiveShort += 1
            if (consecutiveShort > maxShortLived)
              return Outcome(restarts, consecutiveShort, gaveUp = true)
            sleep(backoffMs)
          }
          restarts += 1
      }
    }
    sys.error("unreachable")
  }

  /** Spark binding with the reference's duration cutoff
    * (Program.SaveTweets.cs:14-51) and defaults (1 min min-uptime, 5 s
    * backoff, 5 flaps): keep the query running — restarting under the
    * flap policy — until `deadlineMs`, then stop it gracefully. */
  def superviseUntil(start: () => StreamingQuery, deadlineMs: Long,
      minUptimeMs: Long = 60000L, backoffMs: Long = 5000L,
      maxShortLived: Int = 5): Outcome =
    superviseLoop[StreamingQuery](
      start,
      q =>
        try {
          val remaining = deadlineMs - System.currentTimeMillis()
          if (remaining > 0 && q.awaitTermination(remaining)) None
          else { q.stop(); None } // deadline reached: graceful cutoff
        } catch {
          // Same policy as the loop's own start() guard: the lambda is
          // where the loop spends its time, so a Throwable catch here
          // would launder interrupts/VM errors into restarts.
          case e: InterruptedException =>
            Thread.currentThread().interrupt(); throw e
          case scala.util.control.NonFatal(e) => Some(e)
        },
      minUptimeMs, backoffMs, maxShortLived)
}
