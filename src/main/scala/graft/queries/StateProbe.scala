package graft.queries

/** Round-21 (round-20 verdict #7): the measured state-store sizing
  * table for the s family. A StreamingQueryListener rides the session
  * while every registered s query runs through its PRODUCTION path
  * (SparkEntry.queries — the Q52Probe rule: a copy-pasted probe
  * pipeline drifts from the real one), capturing each micro-batch's
  * stateOperators: operator name, rows in state, state memory, store
  * instance count. The table is what a volume-derived state-partition
  * setting would be derived FROM; EventStream.StatePartitions (= 8)
  * is the deliberate harness-wide value this evidence adjudicates.
  *
  * Usage: runMain graft.queries.StateProbe [sfDir] */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    graft.Harness.withSession(cpus, logLevel = "ERROR") { spark =>
      // (query, operator, batchId) -> (rowsTotal, memBytes, stores)
      val acc = scala.collection.mutable.Buffer
        .empty[(String, String, Long, Long, Long, Long)]
      @volatile var current = ""
      // progress is delivered asynchronously, so a late event from query
      // N would land under query N+1 if read from `current`; the start
      // event fires synchronously inside start(), so the run id it
      // records is attributed to the query that is really running
      val runOwner = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = runOwner.put(e.runId, current)
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val owner = runOwner.getOrDefault(p.runId, "?")
          Option(p.stateOperators).foreach(_.foreach { so =>
            acc.synchronized {
              acc += ((owner, so.operatorName, p.batchId,
                so.numRowsTotal, so.memoryUsedBytes,
                so.numStateStoreInstances))
            }
          })
        }
      }
      spark.streams.addListener(listener)
      val names = graft.SparkEntry.all.keys.filter(_.startsWith("s")).toSeq.sorted
      names.foreach { nm =>
        current = nm
        val t0 = System.nanoTime()
        val ok = try { graft.SparkEntry.queries(nm)(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        if (!ok) println(f"[stateprobe] $nm%-28s FAILED after $t%.1f s")
      }
      // listener delivery is async — give the bus a moment to drain
      Thread.sleep(2000)
      spark.streams.removeListener(listener)
      println("[stateprobe] query | operator | batches | max rows in state | max state MB | stores")
      acc.synchronized {
        acc.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1).foreach {
          case ((q, op), rows) =>
            println(f"[stateprobe] $q%-28s ${op.take(28)}%-28s " +
              f"${rows.map(_._3).distinct.size}%3d ${rows.map(_._4).max}%10d " +
              f"${rows.map(_._5).max / 1e6}%8.2f ${rows.map(_._6).max}%4d")
        }
      }
    }
  }
}
