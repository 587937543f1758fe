package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Ids of the materialized cached RDDs a DataFrame's plan reads: the
  * persisted relations and the checkpointed scans substituted into it. */
object PerfbenchPlans {
  def cachedRddIds(df: Dataset[_]): Seq[Int] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.withCachedData.collectWithSubqueries {
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.cachedColumnBuffers.id
      case l: LogicalRDD => l.rdd.id
    }
}
