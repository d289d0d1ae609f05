package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Session-conf helpers: scoped settings, and derived sessions that
  * reuse compiled code. */
object Sessions {

  /** `spark.sql.artifact.isolation.enabled=false`. With isolation on,
    * every cloned or child session runs its tasks on a class loader of
    * its own, and Spark 4.1 keys its codegen cache by (class loader,
    * code): each stream run and each `newSession()` child recompiles
    * every generated class, and the new entries push the parent's out
    * of the 100-entry cache. graft adds no session artifacts, so
    * nothing needs isolating. A session reads the key once, at its
    * first action, so it must be set before that. */
  val sharedCode: (String, String) =
    SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false"

  /** A `newSession()` child of `s0` that shares compiled code with the
    * other sessions (see [[sharedCode]]). */
  def child(s0: SparkSession): SparkSession = {
    val s = s0.newSession()
    s.conf.set(sharedCode._1, sharedCode._2)
    s
  }

  /** Run `body` with `settings` held on `s`, then restore each key's
    * previous value (or unset it, if it had none) — also when `body`
    * throws. */
  def withConf[T](s: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val prev = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
