package graft.jdbc

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException,
  ObjectInputStream, ObjectOutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, Types}
import java.util.concurrent.atomic.AtomicLong

import Protocol._

/** Loopback TCP front for the embedded Derby engine — the server half
  * of the thin-client proxy (see [[Protocol]] for why it exists).
  *
  * One singleton per JVM: the first S1/K5 query plan built in a driver
  * JVM binds an ephemeral loopback port and hands out
  * `jdbc:derby://localhost:<port>/<dbPath>` URLs; every JDBC connection
  * Spark opens — schema probe on the driver, per-partition reads and
  * batched writes on EXECUTORS, including forked local-cluster JVMs —
  * arrives here as a socket, each mapped to a dedicated embedded
  * connection. Thread-per-connection: Derby's own lock manager provides
  * the concurrency semantics, exactly as with its real network server.
  *
  * Reference: db.py:17-77 (connection pool over a server PostgreSQL);
  * the production deployment uses a real server DB and never runs this.
  */
object DerbyTcpServer {

  /** Connections accepted since JVM start — lets specs assert the JDBC
    * traffic really crossed the socket, not an in-process shortcut. */
  val accepted = new AtomicLong(0L)

  @volatile private var boundPort: Int = -1

  /** The proxy URL for an embedded database directory. Starts the
    * server on first use. */
  def url(dbPath: String): String =
    s"jdbc:derby://localhost:$port/$dbPath"

  def port: Int = {
    if (boundPort < 0) synchronized {
      if (boundPort < 0) {
        graft.model.Fs.root // sets Derby's log location before it boots
        val ss = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
        val t = new Thread(() => acceptLoop(ss), "graft-derby-tcp-accept")
        t.setDaemon(true)
        t.start()
        boundPort = ss.getLocalPort
      }
    }
    boundPort
  }

  private def acceptLoop(ss: ServerSocket): Unit =
    while (true) {
      val sock = ss.accept()
      accepted.incrementAndGet()
      val t = new Thread(() => serve(sock), "graft-derby-tcp-conn")
      t.setDaemon(true)
      t.start()
    }

  private def serve(sock: Socket): Unit = {
    var conn: Connection = null
    try {
      val out = new ObjectOutputStream(new BufferedOutputStream(sock.getOutputStream))
      out.flush() // release the stream header before the client reads
      val in = new ObjectInputStream(new BufferedInputStream(sock.getInputStream))
      in.setObjectInputFilter(wireFilter) // reject non-protocol classes
      var open = true
      while (open) {
        val req = in.readObject()
        val resp: AnyRef =
          try req match {
            case Open(dbPath) =>
              conn = DriverManager.getConnection(s"jdbc:derby:$dbPath;create=true")
              Ok
            case Exec(sql, params, true, _) =>
              runQuery(conn, sql, params.headOption.getOrElse(Array.empty))
            case Exec(sql, params, false, false) =>
              Count(runUpdate(conn, sql, params.headOption.getOrElse(Array.empty)))
            case Exec(sql, params, false, true) =>
              Counts(runBatch(conn, sql, params))
            case SetAutoCommit(on) => conn.setAutoCommit(on); Ok
            case SetIsolation(l) => conn.setTransactionIsolation(l); Ok
            case Commit => conn.commit(); Ok
            case Rollback => conn.rollback(); Ok
            case CloseConn => open = false; Ok
          } catch {
            case e: java.sql.SQLException =>
              Err(Option(e.getMessage).getOrElse(""), e.getSQLState, e.getErrorCode)
            case e: Throwable =>
              Err(e.toString, null, 0)
          }
        out.writeObject(resp)
        out.reset() // row arrays are never resent; drop the back-ref table
        out.flush()
      }
    } catch {
      case _: EOFException | _: SocketException => () // client went away
      // Everything else IOException-shaped on this connection: malformed
      // wire INPUT (a filter-rejected object, an unknown class name,
      // garbage bytes — StreamCorruptedException et al.) but also any
      // failed response WRITE (the try spans out.writeObject too). Drop
      // the connection without running any part of a hostile payload,
      // but leave a one-line class-name trace so a server-side
      // serialization bug is diagnosable and not just a mystery
      // disconnect. The accept loop is unaffected and `finally` below
      // still closes the resources either way.
      case e @ (_: java.io.IOException | _: ClassNotFoundException) =>
        System.err.println(
          s"[graft-jdbc] dropped connection: ${e.getClass.getSimpleName}")
    } finally {
      if (conn != null) { try conn.rollback() catch { case _: Throwable => () }
        try conn.close() catch { case _: Throwable => () } }
      try sock.close() catch { case _: Throwable => () }
    }
  }

  private def bindParams(ps: PreparedStatement, params: Array[AnyRef]): Unit = {
    var i = 0
    while (i < params.length) {
      params(i) match {
        case SqlNull(t) => ps.setNull(i + 1, t)
        case v => ps.setObject(i + 1, v)
      }
      i += 1
    }
  }

  private def runUpdate(conn: Connection, sql: String, params: Array[AnyRef]): Int = {
    val ps = conn.prepareStatement(sql)
    try { bindParams(ps, params); ps.executeUpdate() } finally ps.close()
  }

  private def runBatch(conn: Connection, sql: String,
      paramSets: Array[Array[AnyRef]]): Array[Int] = {
    val ps = conn.prepareStatement(sql)
    try {
      paramSets.foreach { p => bindParams(ps, p); ps.addBatch() }
      ps.executeBatch()
    } finally ps.close()
  }

  private def runQuery(conn: Connection, sql: String, params: Array[AnyRef]): Rows = {
    val ps = conn.prepareStatement(sql)
    try {
      bindParams(ps, params)
      val rs = ps.executeQuery()
      try {
        val md = rs.getMetaData
        val n = md.getColumnCount
        val meta = Array.tabulate(n) { j =>
          val i = j + 1
          ColMeta(md.getColumnLabel(i), md.getColumnType(i), md.getColumnTypeName(i),
            md.getPrecision(i), md.getScale(i), md.isNullable(i), md.isSigned(i))
        }
        val rows = Array.newBuilder[Array[AnyRef]]
        while (rs.next()) {
          val row = new Array[AnyRef](n)
          var j = 0
          while (j < n) {
            // materialize connection-scoped handles; everything else
            // Derby returns boxed (serializable) already
            row(j) = meta(j).typeCode match {
              case Types.CLOB | Types.VARCHAR | Types.CHAR | Types.LONGVARCHAR =>
                rs.getString(j + 1)
              case Types.BLOB | Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY =>
                rs.getBytes(j + 1)
              case _ => rs.getObject(j + 1)
            }
            j += 1
          }
          rows += row
        }
        Rows(meta, rows.result())
      } finally rs.close()
    } finally ps.close()
  }
}
