package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Measurement tool (optimization rounds): runs each named query twice
  * (cold + warm) and prints the WARM run's executed-plan tree with
  * per-operator metrics (rows out, per-operator timing where Spark
  * records it) plus the wall time of each pass — the "where do the
  * seconds go" breakdown that explain() alone can't give. Also prints
  * job-level wall times via a listener so multi-job queries (iterative
  * contraction, eager `Materialize.truncate` materializations,
  * broadcasts) show their per-job cost. Not part of the driver
  * contract.
  *
  * Usage: runMain graft.ProfileQuery <query>...
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val jobs  = new scala.collection.mutable.ArrayBuffer[(Int, Long, String)]
    val starts = new scala.collection.mutable.HashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse(""))
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, d) =>
          jobs.synchronized { jobs += ((j.jobId, System.nanoTime() - t0, d)) }
        }
    })

    def renderWithMetrics(p: SparkPlan, indent: Int, sb: StringBuilder): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (_, m) => m.value > 0 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(", ")
      sb.append("  " * indent).append(p.nodeName)
      if (ms.nonEmpty) sb.append("  [").append(ms).append("]")
      sb.append("\n")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      kids.foreach(renderWithMetrics(_, indent + 1, sb))
      p.subqueries.foreach { sq =>
        sb.append("  " * (indent + 1)).append("SUBQUERY:\n")
        renderWithMetrics(sq, indent + 2, sb)
      }
    }

    args.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(
        n, throw new IllegalArgumentException(s"unknown query $n"))
      def pass(): Double = {
        val t0 = System.nanoTime(); fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9
      }
      val cold = pass()
      System.gc()
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // execute the df's OWN plan (not count()'s derived plan) so the
      // per-operator metrics land on the tree we render below; this
      // computes every column, like the guide §1.4 noop sink
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val warm = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      println(f"\n===== $n cold=$cold%.3f warm=$warm%.3f =====")
      val js = jobs.synchronized(jobs.toSeq)
      println(f"warm jobs: ${js.size}, total job time ${js.map(_._2).sum / 1e9}%.3f s")
      js.sortBy(-_._2).take(12).foreach { case (id, t, d) =>
        println(f"  job $id%3d ${t / 1e9}%7.3f s  $d")
      }
      val sb = new StringBuilder
      renderWithMetrics(df.queryExecution.executedPlan, 0, sb)
      println(sb.toString)
    }
    spark.stop()
  }
}
