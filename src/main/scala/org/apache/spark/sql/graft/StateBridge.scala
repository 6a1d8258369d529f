package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge into Spark's `private[sql]` state-store registry (the
  * [[PlanBridge]] pattern). A stopped query's state-store providers stay
  * in the executor-wide `StateStore` registry, holding their last
  * version's rows, until Spark's maintenance pass (every 60 s by default)
  * finds the run inactive; a caller done with a run releases them at
  * once. */
object StateBridge {

  /** Every provider the query run can have loaded: one per stateful
    * operator, partition and store name of its last micro-batch plan
    * (none for a run without state or without a batch). */
  def providers(q: StreamingQuery): Seq[StateStoreProviderId] = {
    val exec = q match {
      case w: StreamingQueryWrapper => w.streamingQuery
      case e: StreamExecution => e
    }
    Option(exec.lastExecution).toSeq.flatMap { ie =>
      ie.executedPlan.collect { case op: StateStoreWriter => op }.flatMap { op =>
        op.stateInfo.toSeq.flatMap { info =>
          for {
            name <- op.stateStoreNames
            p <- 0 until info.numPartitions
          } yield StateStoreProviderId(
            StateStoreId(info.checkpointLocation, info.operatorId, p, name),
            info.queryRunId)
        }
      }
    }
  }

  def isLoaded(id: StateStoreProviderId): Boolean = StateStore.isLoaded(id)

  /** Unload and close providers of STOPPED query runs. */
  def unload(ids: Seq[StateStoreProviderId]): Unit =
    ids.foreach { id =>
      if (StateStore.isLoaded(id)) StateStore.removeFromLoadedProvidersAndClose(id)
    }
}
