// Spark internals a traced run reads; they are private to Spark's packages,
// so the accessors live there.

package org.apache.spark {

  object PerfbenchBus {
    /** Blocks until every event posted so far reached the listeners. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  object PerfbenchSql {
    /** The query execution that ran, when the event still carries it. */
    def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
      Option(e.qe)
  }
}
