package graftbench

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  override def beforeAll(): Unit = spark = graft.GraftSession.build("2")
  override def afterAll(): Unit = spark.stop()

  test("a span owns the jobs that start inside it, from any thread") {
    val t = new Tracer(spark.sparkContext)
    try {
      t.span("one")(spark.range(100).count())
      t.span("none")(())
      t.span("pooled")(Await.result(
        Future(spark.range(10).count())(ExecutionContext.global), 60.seconds))
      assert(t.spans("one").jobs >= 1)
      assert(t.spans("none").jobs == 0)
      assert(t.spans("pooled").jobs >= 1)
      assert(t.spans("one").tasks >= 1 && t.spans("one").stages >= 1)
      assert(t.spans.values.forall(_.leaked == 0))
    } finally t.stop()
  }

  test("a job still running when its span ends counts as leaked") {
    val t = new Tracer(spark.sparkContext)
    try {
      var f: Future[Long] = null
      t.span("leaky") {
        f = Future(spark.sparkContext.parallelize(1 to 2, 1)
          .map { x => Thread.sleep(1500); x }.count())(ExecutionContext.global)
        while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(5)
      }
      assert(t.spans("leaky").leaked == 1)
      Await.result(f, 60.seconds)
    } finally t.stop()
  }
}
