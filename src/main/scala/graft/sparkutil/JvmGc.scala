package graft.sparkutil

/** The bench harnesses' shared JVM GC-time probe — one definition for
  * Bench, BenchScale and Profile, so a fix (e.g. handling a bean that
  * reports −1) has one place to land. */
object JvmGc {
  private val beans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** Cumulative collection time across all collectors, in ms; beans
    * that report −1 (unsupported) count as 0. */
  def millis(): Long = {
    var t = 0L
    beans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
}
