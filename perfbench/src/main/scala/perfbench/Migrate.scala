package perfbench

import java.sql.DriverManager

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.LakeDriver
import graft.plans.Runner.{Job, JobRunRecord}
import graft.sources.Lake

/** `migrate`: the E1 lifecycle as back-to-back nightly full reloads
  * through `LakeDriver.run`. Five tables are extracted over JDBC from an
  * in-memory Derby source (range-partitioned; `orders` through a pushdown
  * query), `region` and `nation` are CSV side-loads (declared DDL schema and
  * inferred schema), and a layer-1 three-table join/filter job builds
  * `nis_policies` from the layer-0 lake tables; recon closes each run.
  *
  * Op: one table-ingestion job, timed from its run record.
  */
final class Migrate(ctx: Ctx) extends Workload(ctx) {
  val name = "migrate"

  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val JdbcTables = Seq("customer", "supplier", "part", "orders", "lineitem")
  private val ColumnTypes = Map(
    "customer" -> "c_name VARCHAR(32), c_mktsegment VARCHAR(16)",
    "supplier" -> "s_name VARCHAR(32)",
    "part" -> "p_name VARCHAR(32), p_brand VARCHAR(16), p_type VARCHAR(16)",
    "orders" -> "o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(16)",
    "lineitem" -> "l_returnflag VARCHAR(1), l_linestatus VARCHAR(1)")
  private val PartitionKey = Map(
    "customer" -> "c_custkey", "supplier" -> "s_suppkey", "part" -> "p_partkey",
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey")
  private val OrdersPushdown = "SELECT * FROM ORDERS WHERE \"o_orderstatus\" <> 'P'"
  private val RegionDdl = "CREATE TABLE region (r_regionkey INT, r_name STRING)"
  private val Layer1Sql =
    """SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, o.o_orderpriority,
      |       c.c_name, c.c_mktsegment, n.n_name
      |FROM %s o JOIN %s c ON o.o_custkey = c.c_custkey
      |          JOIN %s n ON c.c_nationkey = n.n_nationkey
      |WHERE o.o_totalprice > 50000""".stripMargin
  private val Layer1Filter =
    "SELECT * FROM nis_policies WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')"
  val LakeTables: Seq[String] = JdbcTables ++ Seq("region", "nation", "nis_policies")

  private var dir: String = _
  private var url: String = _
  private var expected: Map[String, Long] = Map.empty
  private var layer1Ref: String = _
  /** Upper bound of each table's key, for the JDBC range split. */
  private var maxKey: Map[String, Long] = Map.empty

  /** Run records, layers and run-span bounds of every round, for tracing. */
  private val runs = ArrayBuffer[(Int, Seq[JobRunRecord], Map[String, Int])]()
  private val roundFiles = ArrayBuffer[(Int, Map[String, Long])]()

  private def root = s"$dir/lake"

  def setup(d: String, rep: Int): Unit = {
    Option(url).foreach(dropDerby)
    dir = d
    url = s"jdbc:derby:memory:perfbench_src$rep;create=true"
    val g = ctx.gen
    val props = new java.util.Properties()
    props.setProperty("driver", DerbyDriver)
    val sources = Seq("customer" -> g.customer, "supplier" -> g.supplier, "part" -> g.part,
      "orders" -> g.orders, "lineitem" -> g.lineitem)
    sources.foreach { case (t, df) =>
      df.repartition(2).write.mode("overwrite").option("createTableColumnTypes", ColumnTypes(t))
        .jdbc(url, t.toUpperCase, props)
    }
    Seq("region" -> g.region, "nation" -> g.nation).foreach { case (t, df) =>
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$d/csv/$t")
    }
    LakeFiles.write(s"$d/deps.csv",
      "Table,Parent Table,Layer\n" +
        (JdbcTables ++ Seq("region", "nation")).map(t => s"${t.capitalize},,0").mkString("\n") +
        "\nNis_policies,Orders,1\nNis_policies,Customer,1\nNis_policies,Nation,1\n")

    // expectations: source-side row counts, and the digest of the layer-1
    // SQL over the generated source rows
    val views = Seq("perfbench_o" -> g.orders.where(col("o_orderstatus") =!= "P"),
      "perfbench_c" -> g.customer, "perfbench_n" -> g.nation)
    views.foreach { case (v, df) => df.createOrReplaceTempView(v) }
    layer1Ref =
      try {
        spark.sql(Layer1Sql.format("perfbench_o", "perfbench_c", "perfbench_n"))
          .createOrReplaceTempView("perfbench_l1")
        Digest.of(spark.sql(Layer1Filter.replace("nis_policies", "perfbench_l1")))
      } finally (views.map(_._1) :+ "perfbench_l1").foreach(v => spark.catalog.dropTempView(v))
    expected = Map(
      "customer" -> jdbcCount("CUSTOMER"), "supplier" -> jdbcCount("SUPPLIER"),
      "part" -> jdbcCount("PART"), "lineitem" -> jdbcCount("LINEITEM"),
      "orders" -> jdbcCount(s"($OrdersPushdown) q"),
      "region" -> 5L, "nation" -> 25L, "nis_policies" -> Digest.rows(layer1Ref))
    maxKey = Map("customer" -> g.nCustomer, "supplier" -> g.nSupplier, "part" -> g.nPart,
      "orders" -> g.nOrders, "lineitem" -> g.nOrders)
  }

  private def jdbcCount(from: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $from")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def dropDerby(u: String): Unit =
    try DriverManager.getConnection(u.replace(";create=true", ";drop=true")).close()
    catch { case _: java.sql.SQLException => () } // Derby reports a successful drop as an exception

  private def registry: Map[String, Job] = {
    def traced(t: String, job: Job): Job = s => Trace.span(s"sources.ingest.$t", "sources")(job(s))
    val jdbc = JdbcTables.map { t =>
      val reader = (s: SparkSession) =>
        Lake.jdbcReader(
          s, url, t.toUpperCase, "app", "app", DerbyDriver,
          pushdownQuery = if (t == "orders") Some(OrdersPushdown) else None,
          partitioning = Some(Lake.JdbcPartitioning(
            PartitionKey(t), 0L, maxKey(t), math.min(ctx.k, 4)))).load()
      s"ing_$t" -> traced(t, LakeDriver.ingestJob(reader, t, root))
    }
    val csv = Seq(
      "ing_region" -> traced("region", LakeDriver.ingestJob(
        s => Lake.readCsvDdl(s, RegionDdl, s"$dir/csv/region"), "region", root)),
      "ing_nation" -> traced("nation", LakeDriver.ingestJob(
        s => Lake.readCsvInferred(s, s"$dir/csv/nation"), "nation", root)))
    val layer1 = "ing_nis_policies" -> traced("nis_policies", LakeDriver.ingestJob(
      s => s.sql(Layer1Sql.format("orders", "customer", "nation")), "nis_policies", root,
      filterSql = Some(Layer1Filter)))
    (jdbc ++ csv :+ layer1).toMap
  }

  /** Rounds per pass: one nightly reload takes about 8 s at k = 2 on a 4-core host. */
  private def rounds: Int = math.max(3, math.round(ctx.seconds / 8.0).toInt)

  def timed(pass: Int): Unit =
    (0 until rounds).foreach { r =>
      val before = LakeFiles.dataFiles(root)
      val (_, res) = timedOp {
        Trace.span("plans.lake_driver.run", "plans", r) {
          LakeDriver.run(spark,
            LakeDriver.Config(root, Some(s"$dir/deps.csv"), jobPrefix = "ing_", maxBatchSize = ctx.k),
            registry)
        }
      }
      val after = LakeFiles.dataFiles(root)
      writtenBytes += LakeFiles.added(before, after).values.sum
      res match {
        case None =>
          LakeTables.foreach(t => ops += new OpRec(s"round$pass.$r:$t", Double.NaN, false, pass))
        case Some(rr) =>
          val layerOf = rr.layers.toSeq.flatMap { case (l, js) => js.map(_ -> l) }.toMap
          runs += ((pass, rr.records, layerOf))
          roundFiles += ((pass, LakeFiles.added(before, after).filter(_._1.contains("/datalake/"))))
          val recs = rr.records.map { rec =>
            val op = new OpRec(s"round$pass.$r:${rec.job_name.stripPrefix("ing_")}",
              (rec.job_end_time.getTime - rec.job_start_time.getTime) / 1000.0,
              rec.job_status == "SUCCESS", pass)
            ops += op
            op
          }
          // recon count parity per table, then the layer-1 digest
          val recon = spark.read.parquet(s"$root/recon_report").collect()
            .map(r => r.getAs[String]("TableName") -> r.getAs[Long]("TableRowCounts")).toMap
          recs.foreach { op =>
            val t = op.key.split(':')(1)
            if (!recon.get(t).contains(expected(t))) op.ok = false
          }
          val l1 = Digest.of(spark.read.parquet(Lake.lakePath(root, "nis_policies")))
          if (l1 != layer1Ref) recs.filter(_.key.endsWith(":nis_policies")).foreach(_.ok = false)
      }
    }

  def finalTables: Seq[LakeTable] = LakeTables.map(t => LakeTable(t, Lake.lakePath(root, t)))

  /** User input per round: the extracted tables, as parquet written once. */
  override def inputFromFresh(fresh: Map[String, Long]): Option[Long] =
    Some(rounds.toLong * ops.map(_.pass).distinct.size * (JdbcTables ++ Seq("region", "nation")).map(fresh).sum)

  def check(d: Map[String, String]): Seq[String] = {
    val bad = LakeTables.filter(t => Digest.rows(d(t)) != expected(t)).map(t =>
      s"$t: ${Digest.rows(d(t))} rows in the lake, ${expected(t)} at the source") ++
      (if (d("nis_policies") != layer1Ref) Seq(s"nis_policies digest ${d("nis_policies")} != $layer1Ref")
      else Nil)
    bad.foreach(m => fail(_.key.endsWith(":" + m.takeWhile(_ != ':'))))
    bad
  }

  def corrupt(): Unit = {
    val files = LakeFiles.dataFiles(Lake.lakePath(root, "lineitem")).keys.toSeq.sorted
    java.nio.file.Files.delete(java.nio.file.Paths.get(files.head))
  }

  override def layerMetrics(t: TraceData, pass: Int): Map[String, Double] =
    Plans.metrics(t, runs.filter(_._1 == pass).map(r => (r._2, r._3)).toSeq, "plans.lake_driver.run") ++
      Sources.metrics(t, roundFiles.filter(_._1 == pass).flatMap(_._2.values).toSeq)

  override def detail: Seq[(String, String)] = Seq(
    "rounds_per_pass" -> rounds.toString,
    "expected_rows" -> Json.obj(expected.toSeq.sorted.map { case (t, n) => t -> n.toString }),
    "layer1_digest" -> Json.str(layer1Ref))
}

/** Runner, metastore and recon attribution of `LakeDriver.run` spans. */
object Plans {

  /** `runs`: each run's records and job → layer map. The run spans are the
    * traced spans named `runSpan`, in the same order.
    */
  def metrics(t: TraceData, runs: Seq[(Seq[JobRunRecord], Map[String, Int])], runSpan: String): Map[String, Double] = {
    val spans = t.spans.filter(_.name == runSpan).sortBy(_.startMs)
    var queue, overhead, meta, recon = 0.0
    spans.zip(runs).foreach { case (sp, (recs, layerOf)) =>
      val iv = recs.filter(_.job_status != "SUSPENDED")
        .map(r => (r.job_start_time.getTime.toDouble, r.job_end_time.getTime.toDouble))
      val layerStart = recs.groupBy(r => layerOf.getOrElse(r.job_name, 0))
        .map { case (l, rs) => l -> rs.map(_.job_start_time.getTime).min }
      queue += recs.map(r => r.job_start_time.getTime - layerStart(layerOf.getOrElse(r.job_name, 0))).sum / 1e3
      // metastore appends: the parquet writes issued from the runner's file
      val metaJobs = t.jobs.filter(j =>
        j.callSite.startsWith("parquet at Runner.scala") && j.startMs >= sp.startMs &&
          j.endMs <= sp.endMs + 1 && t.tasksOf(Seq(j)).exists(_.outputBytes > 0))
      meta += Trace.unionLength(t.jobIntervals(metaJobs)) / 1e3
      if (iv.nonEmpty) {
        val first = iv.map(_._1).min
        val layersEnd = (iv.map(_._2) ++ metaJobs.map(_.endMs.toDouble)).max
        overhead += ((layersEnd - first) - Trace.unionLength(iv)) / 1e3
        recon += math.max(0.0, sp.endMs - layersEnd) / 1e3
      }
    }
    val all = runs.flatMap(_._1)
    Map(
      "plans.runner.jobs" -> all.size.toDouble,
      "plans.runner.queue_wait_s" -> queue,
      "plans.runner.overhead_s" -> overhead,
      "plans.runner.failed" -> all.count(_.job_status == "FAILURE").toDouble,
      "plans.runner.suspended" -> all.count(_.job_status == "SUSPENDED").toDouble,
      "plans.metastore_s" -> meta,
      "plans.recon_s" -> recon)
  }
}

/** Read/write attribution of the `sources` spans. */
object Sources {
  def metrics(t: TraceData, writtenFiles: Seq[Long]): Map[String, Double] = {
    val spans = t.spans.filter(_.layer == "sources")
    val jobs = t.jobsOf(_.layer == "sources")
    val tasksByJob = t.tasksOf(jobs).groupBy(_.job)
    val (writes, reads) = jobs.partition(j => tasksByJob.getOrElse(j.id, Nil).exists(_.outputBytes > 0))
    def wallS(js: Seq[JobRec]) = js.map(j => j.endMs - j.startMs).sum / 1e3
    Map(
      "sources.read_s" -> wallS(reads),
      "sources.read_rows" -> t.tasksOf(jobs).map(_.inputRecords).sum.toDouble,
      "sources.write_s" -> wallS(writes),
      "sources.write_files" -> writtenFiles.size.toDouble,
      "sources.write_bytes" -> writtenFiles.sum.toDouble,
      "sources.driver_s" -> t.uncoveredS(spans, t.jobIntervals(jobs)))
  }
}
