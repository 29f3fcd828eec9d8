package graft.streaming

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Types}
import java.util.Properties

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A13/A14: the relational fact sink. The reference initializes two
  * Postgres tables with exact column types (postgres_client.py:26-51)
  * and bulk-appends columnar batches into them (postgres_client.py:
  * 53-67). Spark's JDBC writer picks dialect-default types unless
  * told otherwise (e.g. Postgres TEXT for strings, Derby CLOB), so
  * the reference's column DDL lives HERE, once, and every backend —
  * embedded Derby in tests, Postgres in production — gets identical
  * column types via `createTableColumnTypes`.
  */
object JdbcSink {

  /** orderbook_snapshots column DDL (postgres_client.py:28-37). */
  val snapshotColumnTypes: String =
    "timestamp BIGINT, ticker VARCHAR(50), side VARCHAR(10), " +
      "price_dollars DECIMAL(5,4), contracts INTEGER, " +
      "redis_stream_id VARCHAR(50)"

  /** orderbook_deltas column DDL (postgres_client.py:39-49). */
  val deltaColumnTypes: String =
    "timestamp BIGINT, ticker VARCHAR(50), side VARCHAR(10), " +
      "price_dollars DECIMAL(5,4), delta INTEGER, " +
      "redis_stream_id VARCHAR(50)"

  /** The full initialize-schema statement for a table — what the
    * reference's `initialize_schema` executes, reconstructed from the
    * same column list the writer uses (one source of truth). */
  def createTableSql(table: String, columnTypes: String): String =
    s"CREATE TABLE IF NOT EXISTS $table ($columnTypes)"

  /** A14: batched columnar append (the ADBC bulk insert's Spark twin;
    * batchsize plays adbc's chunk size). Creates the table with the
    * reference column types on first write. */
  def append(df: DataFrame, url: String, table: String,
      columnTypes: String, props: Properties,
      batchSize: Int = 100): Unit =
    df.write.mode("append")
      .option("batchsize", batchSize.toString)
      .option("createTableColumnTypes", columnTypes)
      .jdbc(url, table, props)

  // ------------------------------------------------------ exactly-once
  // The reference's insert-then-XDEL commit (consumer.py:98-107) is
  // at-least-once: a crash between the Postgres insert and the XDEL
  // re-delivers the batch and duplicates rows. The transactional
  // upgrade below makes the JDBC fact sink IDEMPOTENT per
  // (query_id, batch_id), so Structured Streaming's at-least-once
  // foreachBatch contract composes to exactly-once END TO END with no
  // dropDuplicates anywhere. Each (query_id, batch_id) is ONE database
  // transaction, written by ONE Spark task:
  //
  //   1. the driver creates the fact and commit-log tables if needed
  //      and checks the commit log: a batch already there is skipped
  //      before any job starts (the replayed-batch no-op);
  //   2. a shuffle moves the batch to a single writer task, so the
  //      upstream stages stay parallel;
  //   3. that task, autocommit off, inserts the commit-log row FIRST:
  //      its primary key claims the batch, and a duplicate key means
  //      another attempt owns it (roll back, report false);
  //   4. it batch-inserts the rows and commits — receipt and facts
  //      become visible together or not at all. Any error rolls back
  //      and rethrows.
  //
  // Every fact row is written once: no stage table, no copy, no
  // delete. One writer per batch costs no database-side parallelism:
  // rows that commit in one transaction pass through one session
  // anyway.
  //
  // Crash matrix: a crash before the commit → the database rolls the
  // transaction back, nothing of the batch is visible, and the replay
  // re-inserts it; a crash after the commit → the receipt exists, so
  // the replay is a no-op; a CONCURRENT duplicate attempt blocks on the
  // receipt's primary key, then rolls back whole.

  /** Commit-log table shared by every exactly-once sink on a database. */
  val commitLogTable = "graft_sink_commits"

  private def parseCols(columnTypes: String): Seq[(String, String)] =
    // split on commas OUTSIDE parentheses (DECIMAL(5,4) stays whole)
    columnTypes.split(",(?![^(]*\\))").toSeq.map(_.trim).map { c =>
      val i = c.indexOf(' ')
      require(i > 0, s"malformed column spec '$c'")
      (c.substring(0, i), c.substring(i + 1).trim)
    }

  private def tableExists(conn: Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, table.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  /** Quoted-identifier DDL (Derby folds unquoted names to upper case,
    * while Spark's JDBC reader and writer quote the DataFrame's
    * lower-case field names — they must agree). Derby has no IF NOT
    * EXISTS, so existence is checked via catalog metadata; a CREATE
    * that loses the race to a concurrent sink fails, and the table then
    * exists, which is all this needs. */
  private def ensureTable(conn: Connection, table: String,
      cols: Seq[(String, String)], pk: Seq[String] = Nil): Unit =
    if (!tableExists(conn, table)) {
      val pkDdl =
        if (pk.isEmpty) ""
        else pk.map(c => s""""$c"""").mkString(", PRIMARY KEY (", ", ", ")")
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE $table (" +
        cols.map { case (n, t) => s""""$n" $t""" }.mkString(", ") + pkDdl + ")")
      catch { case _: SQLException if tableExists(conn, table) => () }
      finally st.close()
    }

  private def withConnection[A](url: String, props: Properties)
      (f: Connection => A): A = {
    Option(props.getProperty("driver"))
      .foreach(d => Class.forName(d))
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** The JDBC type a fact column is bound as, from its DDL type. */
  private def sqlType(ddl: String): Int =
    ddl.toUpperCase.takeWhile(_.isLetter) match {
      case "BIGINT" => Types.BIGINT
      case "INTEGER" | "INT" => Types.INTEGER
      case "DECIMAL" | "NUMERIC" => Types.DECIMAL
      case "VARCHAR" => Types.VARCHAR
      case _ => throw new IllegalArgumentException(
        s"unsupported exactly-once sink column type '$ddl'")
    }

  private def bind(st: PreparedStatement, i: Int, tpe: Int, v: Any): Unit =
    if (v == null) st.setNull(i, tpe)
    else tpe match {
      case Types.BIGINT => st.setLong(i, v.asInstanceOf[Number].longValue)
      case Types.INTEGER =>
        st.setInt(i, Math.toIntExact(v.asInstanceOf[Number].longValue))
      case Types.DECIMAL => st.setBigDecimal(i, v match {
        case d: java.math.BigDecimal => d
        case n => new java.math.BigDecimal(n.toString)
      })
      case _ => st.setString(i, v.toString)
    }

  /** One batch as one transaction: claim (queryId, batchId) in the
    * commit log, insert `rows` in `batchSize` chunks, commit. False,
    * with nothing written, when another attempt holds the claim. */
  private def writeBatch(url: String, props: Properties, table: String,
      cols: Seq[(String, Int)], queryId: String, batchId: Long,
      batchSize: Int, rows: Iterator[Row]): Boolean =
    withConnection(url, props) { conn =>
      conn.setAutoCommit(false)
      try {
        val mark = conn.prepareStatement(
          s"""INSERT INTO $commitLogTable ("query_id", "batch_id",
             | "committed_at_ms") VALUES (?, ?, ?)""".stripMargin)
        val claimed = try {
          mark.setString(1, queryId); mark.setLong(2, batchId)
          mark.setLong(3, System.currentTimeMillis())
          mark.executeUpdate(); true
        } catch {
          // SQLSTATE 23505: unique-key violation (Derby and Postgres)
          case e: SQLException if e.getSQLState == "23505" => false
        } finally mark.close()
        if (claimed) {
          val ins = conn.prepareStatement(s"INSERT INTO $table (" +
            cols.map { case (n, _) => s""""$n"""" }.mkString(", ") +
            ") VALUES (" + cols.map(_ => "?").mkString(", ") + ")")
          try {
            var pending = 0
            rows.foreach { r =>
              cols.indices.foreach(i => bind(ins, i + 1, cols(i)._2, r.get(i)))
              ins.addBatch(); pending += 1
              if (pending == batchSize) { ins.executeBatch(); pending = 0 }
            }
            if (pending > 0) ins.executeBatch()
          } finally ins.close()
          conn.commit()
        } else conn.rollback()
        claimed
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case NonFatal(_) => () }
          throw e
      }
    }

  /** Idempotent micro-batch append. Returns false when (queryId,
    * batchId) is already in the commit log — the replayed-batch no-op —
    * or when a concurrent attempt at the same batch claimed it first.
    * `queryId` must be stable across restarts (use the checkpoint
    * location or a fixed query name, NOT the engine's random run id). */
  def appendExactlyOnce(df: DataFrame, url: String, table: String,
      columnTypes: String, props: Properties, queryId: String,
      batchId: Long, batchSize: Int = 100): Boolean = {
    val cols = parseCols(columnTypes)
    require(cols.map(_._1).sorted == df.columns.toSeq.sorted,
      s"batch columns ${df.columns.mkString(",")} do not match sink DDL " +
        s"${cols.map(_._1).mkString(",")}")
    val bound = cols.map { case (n, t) => (n, sqlType(t)) }
    val committed = withConnection(url, props) { conn =>
      ensureTable(conn, table, cols)
      ensureTable(conn, commitLogTable, Seq(
        ("query_id", "VARCHAR(200) NOT NULL"),
        ("batch_id", "BIGINT NOT NULL"),
        ("committed_at_ms", "BIGINT")), pk = Seq("query_id", "batch_id"))
      val check = conn.prepareStatement(
        s"""SELECT 1 FROM $commitLogTable WHERE "query_id" = ? AND "batch_id" = ?""")
      try {
        check.setString(1, queryId); check.setLong(2, batchId)
        val rs = check.executeQuery()
        try rs.next() finally rs.close()
      } finally check.close()
    }
    if (committed) return false

    val results = df.select(cols.map { case (n, _) => col(n) }: _*)
      .repartition(1)
      .mapPartitions(rows => Iterator(writeBatch(url, props, table, bound,
        queryId, batchId, batchSize, rows)))(Encoders.scalaBoolean)
      .collect()
    // No task ran when the plan proved the batch empty (an empty input
    // can reach the shuffle with no partitions, and adaptive execution
    // may drop it): the batch still gets its receipt, with no rows.
    if (results.isEmpty)
      writeBatch(url, props, table, bound, queryId, batchId, batchSize,
        Iterator.empty)
    else results.head
  }

  /** A14/A15 fully exactly-once: the streaming fact sink as a
    * checkpointed foreachBatch over [[appendExactlyOnce]]. `queryId`
    * defaults to the checkpoint path — the one identifier that is
    * stable across restarts and unique per logical query. */
  def factStream(facts: DataFrame, url: String, table: String,
      columnTypes: String, props: Properties, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      queryId: String = null): StreamingQuery = {
    val qid = Option(queryId).getOrElse(checkpoint)
    facts.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendExactlyOnce(batch, url, table, columnTypes, props, qid, batchId)
        ()
      }
      .start()
  }
}
