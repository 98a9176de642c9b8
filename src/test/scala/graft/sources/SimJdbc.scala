package graft.sources

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, ResultSet, Types}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

/** Latency-modeled mock JDBC server — the "real wire" stand-in this
  * sandbox cannot host (VERDICT r15 item 4: no derbynet/derbyclient
  * implementation classes ship in `/opt/spark/jars`, no other JDBC-capable
  * server engine or driver jar exists on disk, and the environment has
  * zero egress — checked and recorded in BASELINE round 16).
  *
  * The round-15 JDBC adjudication left one claim architecture-backed but
  * unmeasured: that [[Jdbc.readTablePartitioned]]'s N concurrent range
  * scans deliver ~N× wire throughput once the server can actually serve
  * independent connections (embedded Derby cannot — its page-latch path
  * serializes concurrent scans in-process). This driver closes that gap
  * the way network-stack engineers validate TCP machinery against `tc
  * netem`: a SERVER MODEL with controlled service rates, not a server.
  *
  *  - `jdbc:graftsim:rows=N;rowNanos=T[;rtNanos=R][;serial=1]` serves a
  *    three-column table `(ID BIGINT, V VARCHAR, X DOUBLE)` with ID dense
  *    in [0, N). Values are pure functions of ID, so any read — full scan
  *    or partition stride — is verifiable by checksum (SimJdbcSpec).
  *  - Each connection delivers rows at a steady `rowNanos`/row pace
  *    (parked in [[batchRows]]-row quanta — the per-connection throughput
  *    cap of a healthy server: an RDS instance, a SQL Server reader).
  *    Distinct connections pace INDEPENDENTLY: N streams overlap.
  *  - `serial=1` instead takes one JVM-global lock around each quantum —
  *    the embedded-Derby pathology (every scan contending the same latch)
  *    reproduced inside the model, so both ends of the r15 measurement
  *    are explained by the SAME harness.
  *  - Writes model the wire the same way: each `executeBatch` costs one
  *    `rtNanos` round trip plus `rowNanos` per row, which is what makes
  *    `batchsize` matter on a network and why embedded Derby (rtNanos≈0)
  *    measured batch-size-insensitive in round 15.
  *
  * Only the statement shapes Spark's JDBC source actually emits are
  * understood (schema probe `WHERE 1=0`, range-partition predicates over
  * `"ID"`, `INSERT INTO t VALUES(...)` batches, `CREATE TABLE`); anything
  * else fails loudly — this is a measurement instrument, not a database.
  * The java.sql surface is implemented via dynamic proxies with
  * type-correct defaults, the standard mock-driver pattern.
  */
object SimJdbc {

  val UrlPrefix = "jdbc:graftsim:"

  /** Rows produced/consumed per pacing quantum: small enough that the
    * park-per-quantum model tracks the target rate to ~1%, large enough
    * that `LockSupport.parkNanos`'s ~50µs floor never dominates.
    */
  val batchRows = 256

  final case class Spec(rows: Long, rowNanos: Long, rtNanos: Long, serial: Boolean)

  def parse(url: String): Spec = {
    require(url.startsWith(UrlPrefix), s"not a graftsim url: $url")
    val kv = url.stripPrefix(UrlPrefix).split(";").filter(_.nonEmpty)
      .map { p => val Array(k, v) = p.split("=", 2); k -> v }.toMap
    Spec(
      rows = kv.getOrElse("rows", "1000").toLong,
      rowNanos = kv.getOrElse("rowNanos", "0").toLong,
      rtNanos = kv.getOrElse("rtNanos", "0").toLong,
      serial = kv.get("serial").exists(v => v == "1" || v == "true"))
  }

  /** The one latch every `serial=1` connection contends — the Derby model. */
  private val globalLatch = new Object

  /** Write-side observability for SimJdbcSpec: inserted-row
    * count, batch count, and an order-insensitive checksum of inserted IDs.
    */
  val insertedRows = new AtomicLong(0)
  val insertedBatches = new AtomicLong(0)
  val insertedIdXor = new AtomicLong(0)
  val tableCreated = new AtomicBoolean(false)
  def resetWrites(): Unit = {
    insertedRows.set(0); insertedBatches.set(0); insertedIdXor.set(0)
    tableCreated.set(false)
  }

  /** Deterministic payloads (pure functions of ID — checksummable). */
  def vOf(id: Long): String = s"v${id % 97}-${(id * 2654435761L) % 1000}"
  def xOf(id: Long): Double = (id % 10007) * 0.5

  /** Pace one quantum of `n` rows for the given spec: park for the rows'
    * service time, under the global latch when `serial` (holding the lock
    * WHILE serving is the point — that is what a latch does).
    */
  private def pace(spec: Spec, n: Int): Unit = {
    val nanos = spec.rowNanos * n
    if (nanos <= 0) return
    if (spec.serial) globalLatch.synchronized(LockSupport.parkNanos(nanos))
    else LockSupport.parkNanos(nanos)
  }

  private def roundTrip(spec: Spec): Unit =
    if (spec.rtNanos > 0) LockSupport.parkNanos(spec.rtNanos)

  // --------------------------------------------------------------------
  // Dynamic-proxy plumbing: handlers get (methodName, args); anything
  // unhandled returns a type-correct default (false/0/null), which is the
  // right answer for the driver-metadata probes Spark makes
  // (supportsTransactions=false ⇒ Spark skips commit management).
  // --------------------------------------------------------------------

  private def default(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case java.lang.Short.TYPE => java.lang.Short.valueOf(0.toShort)
    case java.lang.Byte.TYPE => java.lang.Byte.valueOf(0.toByte)
    case java.lang.Double.TYPE => java.lang.Double.valueOf(0.0)
    case java.lang.Float.TYPE => java.lang.Float.valueOf(0.0f)
    case java.lang.Void.TYPE => null
    case _ => null
  }

  private def proxy[T](iface: Class[T])(
      handler: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          m.getName match {
            case "hashCode" => Integer.valueOf(System.identityHashCode(p))
            case "equals" => java.lang.Boolean.valueOf(p eq a(0))
            case "toString" => s"SimJdbc${iface.getSimpleName}"
            case n if handler.isDefinedAt((n, a)) => handler((n, a))
            case n => default(m)
          }
        }
      }).asInstanceOf[T]

  // --------------------------------------------------------------------
  // Result sets
  // --------------------------------------------------------------------

  private val colNames = Array("ID", "V", "X")
  private val colTypes = Array(Types.BIGINT, Types.VARCHAR, Types.DOUBLE)
  private val colTypeNames = Array("BIGINT", "VARCHAR", "DOUBLE")

  private def metaData: java.sql.ResultSetMetaData =
    proxy(classOf[java.sql.ResultSetMetaData]) {
      case ("getColumnCount", _) => Integer.valueOf(colNames.length)
      case ("getColumnName", a) => colNames(a(0).asInstanceOf[Integer] - 1)
      case ("getColumnLabel", a) => colNames(a(0).asInstanceOf[Integer] - 1)
      case ("getColumnType", a) =>
        Integer.valueOf(colTypes(a(0).asInstanceOf[Integer] - 1))
      case ("getColumnTypeName", a) => colTypeNames(a(0).asInstanceOf[Integer] - 1)
      case ("getPrecision", a) =>
        // BIGINT 19, VARCHAR 32, DOUBLE 15 — what a real driver reports
        Integer.valueOf(Array(19, 32, 15)(a(0).asInstanceOf[Integer] - 1))
      case ("getScale", _) => Integer.valueOf(0)
      case ("isSigned", _) => java.lang.Boolean.TRUE
      case ("isNullable", _) =>
        Integer.valueOf(java.sql.ResultSetMetaData.columnNoNulls)
    }

  /** Forward-only result set over ids [lo, hi), paced per the spec. */
  private def rangeResultSet(spec: Spec, lo: Long, hi: Long): ResultSet = {
    var cur = lo - 1
    var sinceParked = 0
    proxy(classOf[ResultSet]) {
      case ("next", _) =>
        cur += 1
        sinceParked += 1
        if (sinceParked >= batchRows) { pace(spec, sinceParked); sinceParked = 0 }
        java.lang.Boolean.valueOf(cur < hi)
      case ("getLong", _) => java.lang.Long.valueOf(cur)
      case ("getString", _) => vOf(cur)
      case ("getDouble", _) => java.lang.Double.valueOf(xOf(cur))
      case ("getObject", _) => java.lang.Long.valueOf(cur)
      case ("wasNull", _) => java.lang.Boolean.FALSE
      case ("getMetaData", _) => metaData
      case ("close", _) => null
      case ("isClosed", _) => java.lang.Boolean.valueOf(cur >= hi)
    }
  }

  // --------------------------------------------------------------------
  // Statement-shape parsing: ONLY what Spark's JDBC source emits.
  // --------------------------------------------------------------------

  // matched against the LOWERCASED statement text (Spark emits `"ID" >= a
  // AND "ID" < b`, first/last strides as `< b OR ... IS NULL` / `>= a`)
  private val GeLt = """(?s).*"?id"?\s*>=\s*(-?\d+)\s+and\s+"?id"?\s*<\s*(-?\d+).*""".r
  private val LtOrNull = """(?s).*"?id"?\s*<\s*(-?\d+)\s+or\s+"?id"?\s+is\s+null.*""".r
  private val GeOnly = """(?s).*"?id"?\s*>=\s*(-?\d+).*""".r
  private val LtOnly = """(?s).*"?id"?\s*<\s*(-?\d+).*""".r

  private def resultFor(spec: Spec, sql: String): ResultSet = {
    val s = sql.trim
    if (s.contains("1=0") || s.contains("1 = 0")) rangeResultSet(spec, 0, 0)
    else if (!s.toUpperCase.contains("WHERE")) rangeResultSet(spec, 0, spec.rows)
    else s.toLowerCase match {
      case GeLt(lo, hi) =>
        rangeResultSet(spec, lo.toLong, math.min(hi.toLong, spec.rows))
      case LtOrNull(hi) => rangeResultSet(spec, 0, math.min(hi.toLong, spec.rows))
      case GeOnly(lo) => rangeResultSet(spec, lo.toLong, spec.rows)
      case LtOnly(hi) => rangeResultSet(spec, 0, math.min(hi.toLong, spec.rows))
      case _ => throw new java.sql.SQLSyntaxErrorException(
        s"graftsim only serves Spark's partition-range shapes, got: $sql")
    }
  }

  private def statement(spec: Spec, sql: String): java.sql.PreparedStatement = {
    // write-side state (Spark's savePartition: setters → addBatch →
    // executeBatch per batchsize); one statement is used by one task
    var pendingBatch = 0L
    var pendingXor = 0L
    var rowId = 0L
    val isInsert = sql != null && sql.trim.toUpperCase.startsWith("INSERT")
    proxy(classOf[java.sql.PreparedStatement]) {
      case ("executeQuery", a) =>
        roundTrip(spec)
        resultFor(spec, if (a.nonEmpty) a(0).asInstanceOf[String] else sql)
      case ("execute", a) =>
        roundTrip(spec)
        val q = if (a.nonEmpty) a(0).asInstanceOf[String] else sql
        if (q.trim.toUpperCase.startsWith("CREATE")) tableCreated.set(true)
        java.lang.Boolean.FALSE
      case ("executeUpdate", a) =>
        roundTrip(spec)
        val q = if (a.nonEmpty) a(0).asInstanceOf[String] else sql
        if (q != null && q.trim.toUpperCase.startsWith("CREATE")) tableCreated.set(true)
        Integer.valueOf(0)
      case ("setLong", a) =>
        if (isInsert && a(0).asInstanceOf[Integer] == 1)
          rowId = a(1).asInstanceOf[java.lang.Long].longValue
        null
      case ("setString" | "setDouble" | "setObject" | "setInt" |
            "setFetchSize" | "setQueryTimeout" | "clearBatch" |
            "clearParameters" | "setNull", _) => null
      case ("addBatch", _) =>
        pendingBatch += 1; pendingXor ^= rowId; null
      case ("executeBatch", _) =>
        // one wire round trip + per-row service time for the whole batch
        roundTrip(spec)
        var left = pendingBatch
        while (left > 0) {
          val n = math.min(left, batchRows.toLong).toInt
          pace(spec, n); left -= n
        }
        insertedRows.addAndGet(pendingBatch)
        insertedBatches.incrementAndGet()
        insertedIdXor.getAndUpdate(x => x ^ pendingXor)
        val res = new Array[Int](pendingBatch.toInt)
        java.util.Arrays.fill(res, 1)
        pendingBatch = 0; pendingXor = 0
        res
      case ("getMetaData", _) => metaData
      case ("close", _) => null
    }
  }

  private def dbMetaData(url: String): java.sql.DatabaseMetaData =
    proxy(classOf[java.sql.DatabaseMetaData]) {
      case ("getURL", _) => url
      case ("getDatabaseProductName", _) => "GraftSim"
      case ("getDriverName", _) => "graft-sim-jdbc"
      // supportsTransactions=false (the proxy default) ⇒ Spark's write
      // path skips commit/rollback management entirely
    }

  def connection(url: String): Connection = {
    val spec = parse(url)
    proxy(classOf[Connection]) {
      case ("prepareStatement", a) => statement(spec, a(0).asInstanceOf[String])
      case ("createStatement", _) => statement(spec, null)
      case ("getMetaData", _) => dbMetaData(url)
      case ("isValid", _) => java.lang.Boolean.TRUE
      case ("getAutoCommit", _) => java.lang.Boolean.TRUE
      case ("setAutoCommit" | "setTransactionIsolation" | "commit" |
            "rollback" | "close" | "clearWarnings", _) => null
      case ("isClosed", _) => java.lang.Boolean.FALSE
    }
  }
}

/** The registrable driver class (Spark's `DriverRegistry` instantiates it
  * by name via the no-arg constructor — pass
  * `driver = "graft.sources.SimJdbcDriver"` in [[Jdbc.Conn]]).
  */
final class SimJdbcDriver extends java.sql.Driver {
  override def connect(url: String, info: java.util.Properties): Connection =
    if (acceptsURL(url)) SimJdbc.connection(url) else null
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(SimJdbc.UrlPrefix)
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException("graftsim has no logger")
}
