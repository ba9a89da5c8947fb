package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import java.sql.{Connection, DriverManager, SQLException, Timestamp}

/** The JDBC workload's source database: an in-memory embedded Derby
  * holding `orders`, with the per-pass delta rows that the benchmark
  * inserts before each incremental sync.
  */
final class Derby(url: String, ordersCsv: String, deltasPath: String) {
  private var deltas = Map.empty[Int, Array[Row]]

  private def connect(create: Boolean): Connection = {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    DriverManager.getConnection(if (create) s"$url;create=true" else url)
  }

  /** Drop the database, recreate `orders` and bulk-load the base rows. */
  def reload(): Unit = {
    drop()
    val conn = connect(create = true)
    try {
      conn.createStatement().execute(
        """CREATE TABLE orders (o_orderkey BIGINT NOT NULL PRIMARY KEY,
          |o_custkey BIGINT, o_orderstatus VARCHAR(1), o_totalprice DOUBLE,
          |o_orderdate TIMESTAMP, o_orderpriority VARCHAR(15))""".stripMargin)
      val call = conn.prepareCall(
        "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'ORDERS', ?, ',', '\"', 'UTF-8', 1)")
      call.setString(1, ordersCsv)
      call.execute()
    } finally conn.close()
  }

  def loadDeltas(spark: SparkSession): Unit =
    deltas = spark.read.parquet(deltasPath).collect()
      .groupBy(_.getAs[Int]("pass"))

  def hasDelta(pass: Int): Boolean = deltas.contains(pass)

  def insertDelta(pass: Int): Unit = {
    val conn = connect(create = false)
    try insert(conn, deltas(pass)) finally conn.close()
  }

  def drop(): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: SQLException => () } // Derby reports a drop as an error

  private def insert(conn: Connection, rows: Array[Row]): Unit = {
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)")
    rows.foreach { r =>
      ps.setLong(1, r.getAs[Long]("o_orderkey"))
      ps.setLong(2, r.getAs[Long]("o_custkey"))
      ps.setString(3, r.getAs[String]("o_orderstatus"))
      ps.setDouble(4, r.getAs[Double]("o_totalprice"))
      ps.setTimestamp(5, r.getAs[Any]("o_orderdate") match {
        case t: java.time.LocalDateTime => Timestamp.valueOf(t)
        case t: Timestamp => t
        case t: java.time.Instant => Timestamp.from(t)
      })
      ps.setString(6, r.getAs[String]("o_orderpriority"))
      ps.addBatch()
    }
    ps.executeBatch()
    conn.commit()
    ps.close()
  }
}
