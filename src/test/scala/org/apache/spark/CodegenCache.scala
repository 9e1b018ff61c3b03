package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.util.NonFateSharingCache

/** Spec-side view of Spark's JVM-wide generated-code cache (internal to
  * Spark): its entries as (class loader, generated source). The loader
  * is Spark's weak-reference key, equal for the same loader. */
object CodegenCache {
  def entries(): Set[(AnyRef, String)] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
    // the wrapped Guava cache is a protected field of Spark's wrapper
    val f = classOf[NonFateSharingCache[_, _]].getDeclaredField("cache")
    f.setAccessible(true)
    val guava = f.get(cache).asInstanceOf[org.sparkproject.guava.cache.Cache[AnyRef, AnyRef]]
    import scala.jdk.CollectionConverters._
    guava.asMap().keySet().asScala.iterator.map { k =>
      val (loader, code) = k.asInstanceOf[(AnyRef, CodeAndComment)]
      (loader, code.body)
    }.toSet
  }

  /** Janino compiles so far in this JVM. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Milliseconds those compiles took, summed over the histogram's
    * reservoir: exact while the JVM has compiled fewer classes than the
    * reservoir holds (1,028). */
  def compileMillis: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
}
