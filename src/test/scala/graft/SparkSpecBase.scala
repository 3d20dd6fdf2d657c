package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites run
  * sequentially in the forked test JVM).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sf001 = "/root/testdata/sf0.001"

  /** The Spark jobs `body` launches on this thread, counted by job tag. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"spec-jobs-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val v = body
      ListenerBus.drain(sc)
      (v, n.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  /** Run `f` with `rule` appended to the shared session's optimizer. */
  def withRule[T](rule: Rule[LogicalPlan])(f: => T): T = {
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ rule
    try f
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == rule)
  }

  /** Run `f` with the session confs `pairs` set in order, then restore
    * each key's previous value, or unset it if it had none.
    */
  def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object SparkSpecBase {
  /** Drops the benign accumulator-race traces, as Bench and Verify do:
    * hundreds of them buried real test output. */
  lazy val session: SparkSession = {
    val s = Session(4)
    Session.dropAccumulatorRaces()
    s
  }
}
