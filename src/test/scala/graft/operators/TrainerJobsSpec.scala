package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job-storm guard for the two standing-index trainers: each training
  * round is one Spark job, so a cold build launches a bounded handful
  * of jobs, not a chain of shuffle joins per round. */
class TrainerJobsSpec extends SparkSpec {

  /** The call sites of the Spark jobs launched by `body` on this
    * thread (its job group), read after the listener bus has drained. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"trainer-jobs-${System.nanoTime()}"
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(e.stageInfos.map(_.name).lastOption.getOrElse("?"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "trainer job count")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    sites.asScala.toSeq
  }

  test("quality-model training launches at most QualityEpochs + 10 jobs") {
    val jobs = jobsOf {
      assert(QualityModel.trainWeights(spark, sf001).collect().nonEmpty)
    }
    info(s"trainWeights(sf0.001): ${jobs.size} jobs")
    assert(jobs.size <= QualityModel.QualityEpochs + 10, jobs.mkString("\n"))
  }

  test("a cold standing-BPE build launches at most 25 jobs") {
    Bpe.clearMergesCache()
    PersistedStore.drop(spark, sf001, "bpe_merges")
    val jobs = jobsOf {
      assert(Bpe.standingMerges(spark, sf001).collect().length ===
        Bpe.NumMerges)
    }
    info(s"cold standingMerges(sf0.001): ${jobs.size} jobs")
    assert(jobs.size <= 25, jobs.mkString("\n"))
  }
}
