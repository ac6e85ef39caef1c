package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (sf0.001 inputs). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Names (call sites) of the Spark jobs started while `body` runs,
    * counted by a listener; the bus is drained on both sides. */
  def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val names = ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        names.synchronized { names += e.stageInfos.maxBy(_.stageId).name }
    }
    SpecBus.drain(sc)
    sc.addSparkListener(l)
    try { body; SpecBus.drain(sc) } finally sc.removeSparkListener(l)
    names.synchronized(names.toList)
  }
}

object SparkSpec {
  /** The production session config, at the specs' fixed 4 cores. */
  lazy val session: SparkSession = GraftSession.local(4)
}
