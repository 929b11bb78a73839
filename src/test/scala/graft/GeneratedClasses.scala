package graft

import graft.pipeline.Pipeline

/** Counts the generated classes Spark compiles while a block of driver
  * code runs: the misses of the JVM's one codegen cache.
  */
object GeneratedClasses {
  def count[T](body: => T): (Long, T) = {
    val before = Pipeline.compiledClasses
    val out = body
    (Pipeline.compiledClasses - before, out)
  }
}
