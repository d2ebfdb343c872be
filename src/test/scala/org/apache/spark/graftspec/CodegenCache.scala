package org.apache.spark.graftspec

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Empties Spark's JVM-wide cache of Janino-compiled classes, so the next
  * query compiles cold. The cache is a private member of `CodeGenerator`,
  * hence the reflection; its type is `private[spark]`, hence this shim's
  * package. */
object CodegenCache {
  def clear(): Unit = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
