package loadbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The model must agree with graft on a tiny collection for every store
  * call class the workloads make, read and write.
  */
class ModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = java.nio.file.Files.createTempDirectory("loadbench-model").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(dir)
  }

  private def exec(c: Call): Option[String] =
    c.check(c.run(if (c.build == null) null else c.build()))

  test("every store_serve class agrees with the model") {
    val w = new Serve(spark, 5, s"$dir/serve", total = 96, tenants = 4)
    w.setup(0)
    for (cls <- w.classes; t <- 0 until 4) {
      val failure = exec(w.call(Spec(cls, t, Schedule.mix(cls.hashCode + t))))
      assert(failure.isEmpty, s"$cls on tenant $t: $failure")
    }
  }

  test("every store_ingest class agrees with the model, and so does the final state") {
    val w = new Ingest(spark, 5, s"$dir/ingest", tenants = 2, perTenant = 48)
    w.setup(0)
    w.beforePass(0, timed = true)
    for (s <- Schedule.ingest(9, 0, 2) ++ Schedule.ingest(9, 1, 2)) {
      val failure = exec(w.call(s))
      assert(failure.isEmpty, s"${s.cls} on tenant ${s.tenant}: $failure")
    }
    assert(w.finish().isEmpty)
    assert(w.layerMetrics("store.write_amp") > 1.0)
  }

  test("a wrong answer is reported, not accepted") {
    val w = new Serve(spark, 5, s"$dir/serve2", total = 96, tenants = 4)
    w.setup(0)
    val c = w.call(Spec("search", 0, 42))
    val rows = c.run(c.build()).asInstanceOf[Seq[Seq[Any]]]
    assert(c.check(rows).isEmpty)
    assert(c.check(rows.reverse).isDefined)
    assert(c.check(rows.tail).isDefined)
  }
}
