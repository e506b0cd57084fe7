package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    // local[4, 2]: maxFailures = 2, so the chaos specs (ChaosRetrySpec)
    // can fail a task's first attempt and assert the retry reproduces
    // bit-identical results — the dominant failure mode at cluster scale.
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result, the Spark jobs it submits (a SparkListener) and the
    * executed plans of the queries it runs (a QueryExecutionListener). A
    * flush job afterwards drains the asynchronous listener bus, whose
    * shared queue delivers both kinds of event in order. */
  protected def traced[T](body: => T): (T, Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime}"
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ =>
        }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      sc.setJobGroup(group, "counted")
      val result = body
      sc.setJobGroup(s"$group-flush", "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (result, jobs.get, plans.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }
}
