package graft

import java.sql.SQLException

import org.apache.spark.sql.functions.col

/** The thin-client JDBC proxy (graft.jdbc) that puts embedded Derby
  * behind a real TCP boundary for S1/K5 — so the multi-JVM gate runs
  * them instead of excluding them (ClusterCheck, round 13).
  *
  * LocalClusterSpec proves the cross-JVM form; this spec pins the
  * proxy's own contracts: traffic really crosses the socket, SQL errors
  * propagate with Derby's state (Spark's tableExists probe RELIES on
  * the missing-table failure), and typed values + SQL NULL survive the
  * wire in both directions.
  */
class JdbcProxySpec extends SparkSpec {

  private def props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "graft.jdbc.ProxyDriver")
    p
  }

  test("s1/k5 really use the socket: accepted-connection count grows") {
    val before = graft.jdbc.DerbyTcpServer.accepted.get()
    val s1 = SparkEntry.queries("s1_jdbc_pushdown")(spark, Sf).collect()
    assert(s1.length == 4)
    val after = graft.jdbc.DerbyTcpServer.accepted.get()
    // ≥3: schema probe (driver) + one connection per read slice (2),
    // plus the write side's connections before them
    assert(after - before >= 3, s"only ${after - before} TCP connections")
  }

  test("SQL errors propagate through the wire (missing table keeps Derby's SQLState)") {
    val url = graft.jdbc.DerbyTcpServer.url(graft.model.Fs.path("proxy_errdb", Sf))
    val e = intercept[Exception] {
      spark.read.jdbc(url, "graft_no_such_table", props).count()
    }
    val sql = e match {
      case s: SQLException => s
      case other =>
        var c = other.getCause
        while (c != null && !c.isInstanceOf[SQLException]) c = c.getCause
        assert(c != null, s"no SQLException in chain: $other")
        c.asInstanceOf[SQLException]
    }
    assert(sql.getSQLState == "42X05", s"state=${sql.getSQLState}") // Derby: table not found
  }

  test("typed values and SQL NULL round-trip the wire") {
    import spark.implicits._
    val url = graft.jdbc.DerbyTcpServer.url(graft.model.Fs.path("proxy_nulldb", Sf))
    val in = Seq(
      (1L, Some("alpha"), Some(2.5), Some(true)),
      (2L, None: Option[String], None: Option[Double], None: Option[Boolean]))
      .toDF("id", "s", "d", "b")
    in.write.mode("overwrite").jdbc(url, "null_rt", props)
    val back = spark.read.jdbc(url, "null_rt", props)
    assert(back.schema.map(_.dataType.typeName) ==
      Seq("long", "string", "double", "boolean"))
    val rows = back.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
      rows(0).getDouble(2) == 2.5 && rows(0).getBoolean(3))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2) && rows(1).isNullAt(3))
    // and a pushed predicate is evaluated server-side without error
    assert(back.filter(col("b")).count() == 1)
  }

  test("server rejects a non-protocol object on the wire (deserialization filter)") {
    import java.io.{BufferedInputStream, BufferedOutputStream, ObjectInputStream, ObjectOutputStream}
    val port = graft.jdbc.DerbyTcpServer.port
    val before = graft.jdbc.DerbyTcpServer.accepted.get()
    val sock = new java.net.Socket("localhost", port)
    try {
      val out = new ObjectOutputStream(new BufferedOutputStream(sock.getOutputStream))
      out.flush()
      val in = new ObjectInputStream(new BufferedInputStream(sock.getInputStream))
      // an arbitrary serializable object that is NOT a Protocol message:
      // the ObjectInputFilter must reject its class before readObject
      // completes, and the server must drop the connection
      val evil = new java.util.ArrayList[String]()
      evil.add("gadget")
      out.writeObject(evil)
      out.flush()
      val e = intercept[java.io.IOException](in.readObject())
      assert(e.isInstanceOf[java.io.EOFException] ||
        e.isInstanceOf[java.net.SocketException], s"unexpected: $e")
    } finally sock.close()
    // the accept loop survives: a legitimate connection still works
    val url = graft.jdbc.DerbyTcpServer.url(graft.model.Fs.path("proxy_filterdb", Sf))
    import spark.implicits._
    Seq((1L, "ok")).toDF("id", "s").write.mode("overwrite").jdbc(url, "filter_rt", props)
    assert(spark.read.jdbc(url, "filter_rt", props).count() == 1)
    assert(graft.jdbc.DerbyTcpServer.accepted.get() > before)
  }

  test("server rejects an over-deep object graph of ALLOWED classes (resource limits)") {
    import java.io.{BufferedInputStream, BufferedOutputStream, ObjectInputStream, ObjectOutputStream}
    val sock = new java.net.Socket("localhost", graft.jdbc.DerbyTcpServer.port)
    try {
      val out = new ObjectOutputStream(new BufferedOutputStream(sock.getOutputStream))
      out.flush()
      val in = new ObjectInputStream(new BufferedInputStream(sock.getInputStream))
      // Object[] is an allowlisted component type, so only the depth
      // ceiling (64) can stop a 70-deep nest — WireFilterSpec unit-pins
      // the ceiling itself; this proves it live on the server socket
      var nest: AnyRef = "payload"
      for (_ <- 1 to 70) nest = Array[AnyRef](nest)
      out.writeObject(nest)
      out.flush()
      val e = intercept[java.io.IOException](in.readObject())
      assert(e.isInstanceOf[java.io.EOFException] ||
        e.isInstanceOf[java.net.SocketException], s"unexpected: $e")
    } finally sock.close()
    // the accept loop survives
    val url = graft.jdbc.DerbyTcpServer.url(graft.model.Fs.path("proxy_depthdb", Sf))
    import spark.implicits._
    Seq((1L, "ok")).toDF("id", "s").write.mode("overwrite").jdbc(url, "depth_rt", props)
    assert(spark.read.jdbc(url, "depth_rt", props).count() == 1)
  }

  test("client rejects a non-protocol object from a malicious server") {
    import java.io.{BufferedInputStream, BufferedOutputStream, ObjectInputStream, ObjectOutputStream}
    val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val server = new Thread(() => {
      val s = ss.accept()
      val out = new ObjectOutputStream(new BufferedOutputStream(s.getOutputStream))
      out.flush()
      val in = new ObjectInputStream(new BufferedInputStream(s.getInputStream))
      in.readObject() // the client's Open request
      val evil = new java.util.ArrayList[String]()
      evil.add("gadget")
      out.writeObject(evil) // instead of Protocol.Ok
      out.flush()
      s.close()
    })
    server.setDaemon(true)
    server.start()
    try {
      val e = intercept[Throwable] {
        new graft.jdbc.ProxyDriver().connect(
          s"jdbc:derby://localhost:${ss.getLocalPort}/ignored", props)
      }
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(_.isInstanceOf[java.io.InvalidClassException]),
        s"expected InvalidClassException in chain, got: $e")
    } finally ss.close()
  }
}
