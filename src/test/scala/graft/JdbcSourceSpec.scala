package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import graft.sources.JdbcSource

/** Drives the JDBC staging-source binding against an embedded Derby
  * database (on Spark's own classpath) — a real relational second source,
  * not a parquet simulation: create/load a staging table over java.sql,
  * then read it back through the Spark JDBC relation.
  */
class JdbcSourceSpec extends SparkSpec {

  private lazy val url: String = {
    val dir = SparkSpec.tempDir("graft_derby").toFile.getAbsolutePath
    val u = s"jdbc:derby:$dir/stagedb;create=true"
    val conn = DriverManager.getConnection(u)
    val st = conn.createStatement()
    st.executeUpdate(
      "CREATE TABLE staging_customer (c_custkey BIGINT PRIMARY KEY, c_name VARCHAR(64), c_acctbal DOUBLE)")
    (1 to 40).foreach { i =>
      st.executeUpdate(
        s"INSERT INTO staging_customer VALUES ($i, 'Customer#$i', ${i * 10.5})")
    }
    st.close(); conn.close()
    u
  }

  test("read pulls a staging table through a real JDBC connection") {
    val df = JdbcSource.read(spark, url, "staging_customer")
    assert(df.count() == 40)
    assert(df.columns.map(_.toLowerCase).toSet == Set("c_custkey", "c_name", "c_acctbal"))
    assert(df.where(col("C_CUSTKEY") === 7).select("C_NAME").collect().head.getString(0)
      == "Customer#7")
  }

  test("readPartitioned fans the table out over range-bounded parallel queries") {
    val df = JdbcSource.readPartitioned(spark, url, "staging_customer",
      "c_custkey", lower = 1L, upper = 40L, numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 40) // bounds shape parallelism, they do not filter
  }

  test("writeStaging round-trips: overwrite+truncate resets, append accumulates") {
    import spark.implicits._
    val staged = (1 to 25).map(i => (i.toLong, s"Part#$i", i * 2.5))
      .toDF("p_key", "p_name", "p_price")
    // First write creates the table (overwrite on a missing table).
    JdbcSource.writeStaging(staged, url, "staging_part")
    val back = JdbcSource.read(spark, url, "staging_part")
    assert(back.count() == 25)
    assert(back.where(col("P_KEY") === 9).select("P_NAME").collect()
      .head.getString(0) == "Part#9")
    // Append accumulates this run's rows on top.
    JdbcSource.writeStaging(staged.where(col("p_key") <= 5), url,
      "staging_part", mode = "append")
    assert(JdbcSource.read(spark, url, "staging_part").count() == 30)
    // Overwrite+truncate resets to exactly the new load (DDL preserved).
    JdbcSource.writeStaging(staged.where(col("p_key") <= 10), url,
      "staging_part", mode = "overwrite", truncate = true)
    val reset = JdbcSource.read(spark, url, "staging_part")
    assert(reset.count() == 10)
    assert(reset.columns.map(_.toLowerCase).toSet == Set("p_key", "p_name", "p_price"))
  }

  test("writeStaging caps writer concurrency via numPartitions") {
    import spark.implicits._
    val staged = (1 to 16).map(i => (i.toLong, s"N#$i")).toDF("k", "v")
      .repartition(8)
    JdbcSource.writeStaging(staged, url, "staging_bounded",
      numPartitions = Some(2))
    assert(JdbcSource.read(spark, url, "staging_bounded").count() == 16)
  }

  test("filters push down into the remote query (PushedFilters on the JDBC scan)") {
    val df = JdbcSource.read(spark, url, "staging_customer")
      .where(col("C_CUSTKEY") >= 30)
    assert(df.count() == 11)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("GreaterThanOrEqual(C_CUSTKEY,30)"),
      s"expected JDBC filter pushdown in plan:\n$physical")
  }
}
