package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("reads drain the listener bus first") {
    // a slow listener registered ahead of the recorder delays every event
    // the recorder sees; a read that did not drain would find nothing yet
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(150)
    })
    val rec = new Recorder(spark)
    val sc = spark.sparkContext
    sc.setJobGroup("g:direct", "g:direct")
    sc.parallelize(1 to 4, 4).count()
    sc.clearJobGroup()
    val a = rec.read(_ == "g:direct")
    assert(a.map(_.jobs).sum === 1)
    assert(a.map(_.stages).sum === 1)
    assert(a.map(_.tasks).sum === 4)
    rec.detach()
  }

  test("work is attributed to the group that launched it, Catalyst time included") {
    val rec = new Recorder(spark)
    rec.run("q:one")(spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect())
    rec.run("q:two")(spark.sparkContext.parallelize(1 to 3, 3).count())
    val one = rec.read(_ == "q:one")
    val two = rec.read(_ == "q:two")
    assert(one.map(_.jobs).sum >= 1)
    assert(one.map(_.executions).sum >= 1)
    assert(one.map(_.catalystMs).sum > 0.0)
    assert(two.map(_.tasks).sum === 3)
    assert(two.map(_.executions).sum === 0) // an RDD job is no SQL execution
    rec.detach()
  }

  test("only work run while attached is recorded, so stretches can interleave") {
    val rec = new Recorder(spark)
    val sc = spark.sparkContext
    def job(): Unit = rec.run("q:i")(sc.parallelize(1 to 2, 2).count())
    job()
    rec.detach()
    job()
    rec.attach()
    job()
    assert(rec.read(_ == "q:i").map(_.jobs).sum === 2)
    rec.detach()
  }
}
