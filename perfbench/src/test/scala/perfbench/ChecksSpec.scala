package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Planted faults must fail the output checks and count in failed_ops. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val warehouse = Files.createTempDirectory("perfbench-warehouse")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.warehouse.dir", warehouse.toString)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  override def afterAll(): Unit = {
    spark.stop()
    Workload.delete(warehouse)
  }

  private val tenant = new Tenant(13L, Tenant.scaled(200)) // 100 requests

  test("a correct state passes; one dropped silver row fails the check") {
    val dir = Files.createTempDirectory("perfbench-checks")
    Baseline.build(spark, tenant, dir)
    assert(Checks.sync(spark, tenant, dir, 0) == Nil)

    val reqs = s"$dir/silver/requests"
    val kept = spark.read.parquet(reqs).orderBy("id").offset(1)
      .localCheckpoint(true)
    kept.write.mode("overwrite").parquet(reqs)
    val errs = Checks.sync(spark, tenant, dir, 0)
    assert(errs.exists(_.contains("silver requests has 99 rows, want 100")),
      errs)
    assert(errs.exists(_.contains("without their current status")), errs)

    val l = new Ledger
    l.op("sync")(())(_ => Checks.sync(spark, tenant, dir, 0))
    assert(l.attempted == 1 && l.failed == 1 && l.sample("sync").isEmpty)
    Workload.delete(dir)
  }

  test("a throwing operation counts as failed and contributes no time") {
    val l = new Ledger
    l.op("query")(spark.sql("SELECT * FROM no_such_view").collect())(_ => Nil)
    l.op("query")(spark.range(3).collect().length)(n =>
      if (n == 3) Nil else Seq(s"$n rows"))
    assert(l.attempted == 2 && l.failed == 1)
    assert(l.sample("query").size == 1)
    assert(l.failures.head.contains("threw"))
  }

  test("view row counts derived from the generator match the registered views") {
    val dir = Files.createTempDirectory("perfbench-views")
    Baseline.build(spark, tenant, dir)
    val tables = graft.normalize.NormalizeTables.all.flatMap(n =>
      graft.operators.ParquetMerge.read(spark, s"$dir/silver/$n")
        .map(n -> _)).toMap
    new graft.views.Views(tables).registerAll()
    val want = Checks.viewRows(tenant)
    assert(want.keySet == Bench.Views.toSet)
    Bench.Views.foreach { v =>
      assert(spark.table(v).count() == want(v), v)
    }
    Workload.delete(dir)
  }

  test("the baseline state has a synced state's rows and files, table by table") {
    val base = Files.createTempDirectory("perfbench-baseline")
    val synced = Files.createTempDirectory("perfbench-synced")
    Baseline.build(spark, tenant, base)
    new graft.integrator.Integrator(spark, new TenantApi(tenant, 0),
      synced.toString).run()
    def shape(dir: java.nio.file.Path) = Workload.listFiles(dir.resolve("silver"))
      .keys.filter(_.endsWith(".parquet")).groupBy(_.takeWhile(_ != '/'))
      .map { case (t, fs) => t -> (fs.size, spark.read.parquet(s"$dir/silver/$t").count()) }
    val (b, s) = (shape(base), shape(synced))
    assert(b.keySet == s.keySet)
    b.keys.foreach(t => assert(b(t) == s(t), s"$t: (files, rows)"))
    Workload.delete(base)
    Workload.delete(synced)
  }

  test("a query that throws or returns another row count than its golden " +
    "count fails the operator pass") {
    val l = new Ledger
    val tr = new Tracing(spark, "test")
    val tables = java.nio.file.Paths.get("data", "sf0.01").toAbsolutePath
    OperatorPass.run(spark, tables, l, tr, Map(
      "u1_union_all" -> OperatorPass.Golden("u1_union_all"),
      "w1_order_by" -> (OperatorPass.Golden("w1_order_by") - 1),
      "no_such_query" -> 1L))
    tr.commit()
    assert(l.attempted == 3 && l.failed == 2, l.failures)
    assert(l.failures.exists(_.contains("w1_order_by returned")))
    assert(l.failures.exists(_.contains("query no_such_query: threw")))
    assert(tr.values.contains("queries.u_s") && tr.values("queries.plan_ms").head > 0)
  }
}
