package graft

import org.apache.spark.sql.SparkSession

/** Liveness-guarded shared test session.
  *
  * Round-18 gate failure: `DedupCapSpec` cached
  * `SparkSession.builder().getOrCreate()` in a suite-level `lazy val`
  * and inherited a SparkContext that an earlier suite's run had left
  * STOPPED (in local mode a fatal task error — e.g. an OOM under the
  * driver box's memory pressure — stops the shared context; the suite
  * that triggered it can still pass). Every later test in the suite then
  * died with "SparkContext has been shutdown" before its body ran.
  *
  * `getOrCreate()` does check `isStopped` on the active/default session,
  * but (a) a `lazy val` freezes whatever it returned first, and (b) a
  * context stopping CONCURRENTLY can slip through the check. This
  * helper is called per test (cheap when the session is alive — it is
  * the same `getOrCreate` fast path) and retries with cleared session
  * handles if a stopped context sneaks through.
  */
object TestSession {
  def get(): SparkSession = synchronized {
    var attempts = 0
    while (attempts < 5) {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      if (!s.sparkContext.isStopped) {
        s.sparkContext.setLogLevel("WARN")
        return s
      }
      // stale handles: drop them so the next getOrCreate builds fresh
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      attempts += 1
    }
    throw new IllegalStateException(
      "could not obtain a live SparkContext after 5 attempts")
  }
}

/** Suite mixin over [[TestSession]]: `spark` re-checks liveness on every
  * use instead of freezing the first session a suite saw, and
  * `testImplicits` stands in for `spark.implicits` (a `def` is not a
  * stable import path). */
trait LiveSession {
  def spark: SparkSession = TestSession.get()

  protected object testImplicits
      extends org.apache.spark.sql.classic.SQLImplicits {
    override protected def session: org.apache.spark.sql.classic.SparkSession =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  }
}
