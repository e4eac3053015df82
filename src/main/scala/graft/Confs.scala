package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides: set, run, restore — the one place the
  * save/restore semantics (including restore-on-exception) live, instead
  * of a hand-rolled try/finally per call site.
  *
  * Only sound around EAGER work: a lazy DataFrame returned out of `body`
  * executes after restore and does not see the overrides.
  */
object Confs {
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    // getOption: a key with no value and no default was unset, and is
    // unset again afterwards
    val saved = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
