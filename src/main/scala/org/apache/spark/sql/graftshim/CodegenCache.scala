package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.internal.Logging
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The engine's size for Spark's generated-class cache.
  *
  * `spark.sql.codegen.cache.maxEntries` (Spark's default: 100) is read
  * once per JVM, by the static initializer of `CodeGenerator$`, from
  * `SQLConf.get`. The 326 declared queries need about 4,100 distinct
  * classes, the 14 of the benchmark's query suite 355, so at 100 the
  * LRU evicts every class before its next use and each warm pass
  * recompiles almost everything. [[DefaultEntries]] is that working
  * set with 2× headroom, rounded to a power of two.
  *
  * [[install]] runs from `graft.GraftExtensions.apply`, after the
  * `SparkContext` exists and before any session state or codegen:
  * the default goes into the live context conf, and every session's
  * `SQLConf` merges it from there. `SparkContext.getActive` and
  * `SparkContext.conf` are `private[spark]`, hence this seam.
  */
object CodegenCache extends Logging {
  val Key: String = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
  val DefaultEntries: Int = 8192

  /** Set [[DefaultEntries]] unless `conf` already holds a value: an
    * explicit user value always wins. */
  def setDefault(conf: SparkConf): Unit =
    conf.setIfMissing(Key, DefaultEntries.toString)

  private val firstInstall = new AtomicBoolean(true)

  /** [[setDefault]] on the active context's conf. If this JVM
    * compiled generated code before the first install, the cache is
    * already sized and keeps that size: one WARN per JVM says so. */
  def install(): Unit = SparkContext.getActive.foreach { sc =>
    setDefault(sc.conf)
    if (firstInstall.getAndSet(false) && compiles > 0)
      logWarning("Generated code was compiled in this JVM before the " +
        "first engine session, so Spark's codegen cache keeps the size " +
        s"it had then. Set $Key=$DefaultEntries at launch " +
        "(--conf or the session builder).")
  }

  /** Classes janino has compiled in this JVM so far. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The cache size `CodeGenerator$` reads from the current thread's
    * conf. */
  def maxEntries: Int = SQLConf.get.codegenCacheMaxEntries
}
