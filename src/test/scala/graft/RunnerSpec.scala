package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession(2)

  override def afterAll(): Unit = spark.stop()

  test("a failure with a null message gives its class name, and the row's caches are still released") {
    val cached = spark.range(10).toDF("id").persist()
    cached.count()
    spark.sparkContext.parallelize(1 to 3).persist().count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    val out = Runner.run(spark)(throw new IllegalStateException())
    assert(out == Left("IllegalStateException: "))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a row that stops the context returns its result instead of throwing from the release") {
    spark.range(10).toDF("id").persist().count()
    assert(Runner.run(spark) { spark.stop(); 1 } == Right(1))
  }
}
