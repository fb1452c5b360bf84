package graft.jdbc

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, PreparedStatement, ResultSet, ResultSetMetaData, Statement, Timestamp, Types}
import java.time.Instant

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** In-memory stand-in for the H2 database the reference tests against
  * (`jobs/JdbcAvroJobTest.java:83-295` runs dbeam against
  * `jdbc:h2:mem:test`): no driver jars ship in this offline sandbox, so the
  * test tree provides the `org.h2.Driver` class name that
  * `ConnectionArgs.driverFor` maps the `jdbc:h2` scheme to, backed by this
  * registry + micro-SQL evaluator. TEST-ONLY — lives under `src/test`; the
  * product path (`JdbcSource`, `spark.read.jdbc`, `ExportJob`) runs
  * completely unmodified on top of it, which is the point: it upgrades the
  * JDBC runtime path (SURVEY §2 U10, §7.5 risk 5) from compile-level to
  * executed.
  *
  * The evaluator supports exactly the SQL the product path emits:
  *   - Spark JDBC v1 scans: `SELECT <cols> FROM (<inner>) alias [WHERE p]`
  *     including the `WHERE 1=0` schema probe and the `SELECT 1 FROM …`
  *     zero-column count scan;
  *   - our `QueryBuilder` inner queries: `SELECT * FROM t WHERE 1=1
  *     [AND c >= x AND c < y] [LIMIT n]`, nested derived tables
  *     (`(…) as user_sql_query`);
  *   - the split-bounds probe `SELECT MIN(c) as a, MAX(c) as b FROM …`
  *     (integral columns), aggregated before any `LIMIT` as in SQL;
  *   - conjunctive predicates with `>= <= < > = <> !=`, `IS [NOT] NULL`,
  *     numeric / quoted-string / timestamp literals;
  *   - the Postgres replication-lag query (matched on its
  *     `pg_last_xact_replay_timestamp` call, answered from
  *     [[replicationReply]]).
  * Every protocol event (connect, prepareStatement, setFetchSize,
  * pre-command execute, executeQuery) is appended to a per-database log so
  * specs can assert the reference's writer protocol ordering
  * (`JdbcAvroIO.java:174-201`).
  */
object StubDb {

  /** @param typeNameOv overrides the driver-reported `getColumnTypeName`;
    *   Postgres reports array columns as `_`-prefixed item names (`_int4`,
    *   `_text`) which both Spark's `PostgresDialect` and the product's
    *   `typed_postgres` mapping key on.
    * @param itemType `java.sql.Types` code of array items (ARRAY cols only)
    * @param itemTypeName driver name of the item type (`int4`, `text`, …)
    */
  final case class Col(name: String, sqlType: Int, nullable: Boolean = false,
      precision: Int = 0, scale: Int = 0, typeNameOv: String = null,
      itemType: Int = Types.NULL, itemTypeName: String = null,
      // MySQL unsigned INT: the real driver reports isSigned=false and
      // columnClassName=java.lang.Long (reference JdbcAvroRecordTest
      // .java:252-272); Spark's JdbcUtils maps unsigned INTEGER → LongType
      unsigned: Boolean = false)
  final case class Table(cols: Vector[Col], rows: Vector[Vector[Any]]) {
    def colIndex(name: String): Int = {
      val i = cols.indexWhere(_.name.equalsIgnoreCase(name))
      require(i >= 0, s"stub: no column $name in ${cols.map(_.name)}")
      i
    }
  }

  private val dbs = TrieMap[String, TrieMap[String, Table]]()
  // Appended from Spark executor threads (4 JDBC partitions on local[32])
  // concurrently, so the per-db log must be a lock-free queue — an
  // ArrayBuffer here loses entries under race and flakes the W6 e2e test.
  private val logs = TrieMap[String, ConcurrentLinkedQueue[String]]()

  /** (replication_delay millis, last_replication) served to the replication
    * query; `null` timestamp models a primary (never-replayed) server.
    */
  @volatile var replicationReply: (Long, Timestamp) =
    (0L, Timestamp.from(Instant.parse("2026-01-01T00:00:00Z")))

  def dbName(url: String): String =
    url.stripPrefix("jdbc:h2:mem:").stripPrefix("jdbc:h2:")
      .stripPrefix("jdbc:postgresql:mem:").stripPrefix("jdbc:postgresql:")
      .stripPrefix("jdbc:mysql:mem:").stripPrefix("jdbc:mysql:")
      .stripPrefix("jdbc:mariadb:mem:").stripPrefix("jdbc:mariadb:")
      .takeWhile(c => c != ';' && c != '?')

  def register(db: String, name: String, table: Table): Unit =
    dbs.getOrElseUpdate(db, TrieMap()).put(name.toUpperCase, table)

  /** Snapshot of the protocol log; ordering is per-thread FIFO (the queue
    * preserves insertion order; concurrent appends interleave, which the
    * specs' `exists`/containment assertions are robust to).
    */
  def log(db: String): Vector[String] =
    logs.get(db).map(_.asScala.toVector).getOrElse(Vector.empty)

  private def append(db: String, line: String): Unit =
    logs.getOrElseUpdate(db, new ConcurrentLinkedQueue[String]()).add(line)

  def reset(db: String): Unit = {
    dbs.remove(db); logs.remove(db); faults.remove(db)
    delays.remove(db); scanStats.remove(db)
  }

  /** Fault injection (r16, VERDICT #6): per-db injected failures so specs
    * runtime-test the export writer's FAILURE path the way JdbcRuntimeSpec
    * tests the happy path — mid-ResultSet wire failures, statement-level
    * failures, and single-split failures (via [[Fault.sqlContains]]) that
    * leave other splits' parts committed.
    *
    * @param failAfterRows ResultSets from this db throw `SQLException`
    *   after serving this many rows (`-1` = never)
    * @param failOnExecute `executeQuery` itself throws (statement-level)
    * @param sqlContains when non-null, the fault applies only to
    *   statements whose SQL contains this substring — e.g. one split
    *   range's predicate, so exactly that task fails
    * @param awaitStartedScans (r17, VERDICT #5) before throwing, block
    *   (≤10 s) until this many data scans (ResultSets serving >1 row —
    *   probes serve ≤1) have STARTED streaming — guarantees the failure
    *   lands while sibling splits are concurrently executing, not in a
    *   serialized schedule that happens to look concurrent
    * @param awaitCompletedScans before throwing, also block until this
    *   many data scans have streamed to completion — lets a spec pin
    *   "a sibling's part committed BEFORE the failure" deterministically
    */
  final case class Fault(failAfterRows: Long = -1L, failOnExecute: Boolean = false,
      sqlContains: String = null, message: String = "stub: injected wire failure",
      awaitStartedScans: Int = 0, awaitCompletedScans: Int = 0,
      // grace sleep AFTER the barrier, before throwing: a "completed" scan
      // means the sibling exhausted its ResultSet; its writer still has to
      // flush + rename the part — give that a moment so "committed before
      // the failure" is deterministic, not a rename/cancel race
      failDelayMs: Long = 0L)

  /** Per-row latency injection (r17, VERDICT #5): every `next()` on a data
    * scan whose SQL contains [[sqlContains]] sleeps [[rowDelayMs]] — keeps
    * chosen sibling splits verifiably mid-stream while another split fails.
    */
  final case class Delay(rowDelayMs: Long, sqlContains: String = null)

  /** Scan-concurrency observability for the multi-split fault specs:
    * `started`/`completed` count data scans (>1 row) over the db's
    * lifetime; `open`/`maxOpen` track how many stream concurrently.
    */
  final class ScanStats {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val completed = new java.util.concurrent.atomic.AtomicInteger(0)
    val open = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxOpen = new java.util.concurrent.atomic.AtomicInteger(0)
    private[StubDb] def onStart(): Unit = {
      started.incrementAndGet()
      val o = open.incrementAndGet()
      maxOpen.updateAndGet(m => math.max(m, o))
    }
    private[StubDb] def onEnd(completedOk: Boolean): Unit = {
      if (completedOk) completed.incrementAndGet()
      open.decrementAndGet()
    }
  }

  private val faults = TrieMap[String, Fault]()
  private val delays = TrieMap[String, Vector[Delay]]()
  private val scanStats = TrieMap[String, ScanStats]()

  def injectFault(db: String, fault: Fault): Unit = faults.put(db, fault)
  def injectDelay(db: String, delay: Delay): Unit =
    delays.updateWith(db)(v => Some(v.getOrElse(Vector.empty) :+ delay))
  def clearFault(db: String): Unit = {
    faults.remove(db); delays.remove(db); scanStats.remove(db)
  }
  def stats(db: String): ScanStats = scanStats.getOrElseUpdate(db, new ScanStats)

  private def delayFor(db: String, sql: String): Long =
    delays.get(db).map(_.collect {
      case d if d.sqlContains == null || sql.contains(d.sqlContains) => d.rowDelayMs
    }.sum).getOrElse(0L)

  private def faultFor(db: String, sql: String): Option[Fault] =
    faults.get(db).filter(f => f.sqlContains == null || sql.contains(f.sqlContains))

  def acceptsUrl(url: String): Boolean = url != null && url.startsWith("jdbc:h2:")

  /** The postgres-scheme face of the stub (`org.postgresql.Driver` shim):
    * `jdbc:postgresql:mem:<db>` selects Spark's `PostgresDialect`, which is
    * the only built-in dialect that maps `java.sql.Types.ARRAY` — required
    * to runtime-exercise the reference's array modes
    * (`avro/PostgresJdbcAvroTest.java:162-245`).
    */
  def acceptsPostgresUrl(url: String): Boolean =
    url != null && url.startsWith("jdbc:postgresql:mem:")

  /** The mysql-scheme face (`com.mysql.cj.jdbc.Driver` shim):
    * `jdbc:mysql:mem:<db>` selects Spark's `MySQLDialect`, closing the
    * driver map's mysql branch (r14, VERDICT r13 #7).
    */
  def acceptsMysqlUrl(url: String): Boolean =
    url != null && url.startsWith("jdbc:mysql:mem:")

  /** The mariadb-scheme face (`org.mariadb.jdbc.Driver` shim) — no
    * dedicated Spark dialect (falls through to the generic JDBC mapping),
    * which is exactly what a real mariadb URL gets too.
    */
  def acceptsMariadbUrl(url: String): Boolean =
    url != null && url.startsWith("jdbc:mariadb:mem:")

  // ---------------------------------------------------------------- querying

  def runQuery(db: String, sql: String): Table = evalQuery(db, sql)

  private def evalQuery(db: String, sql0: String): Table = {
    val sql = sql0.trim.stripSuffix(";").trim
    if (sql.toLowerCase.contains("pg_last_xact_replay_timestamp")) {
      val (delay, last) = replicationReply
      return Table(
        Vector(Col("current_timestamp", Types.TIMESTAMP), Col("last_replication", Types.TIMESTAMP, nullable = true),
          Col("replication_delay", Types.BIGINT)),
        Vector(Vector(Timestamp.from(Instant.parse("2026-01-01T01:00:00Z")), last, delay)))
    }
    val selMatch = "(?is)^SELECT\\s+(.*?)\\s+FROM\\s+(.*)$".r
    sql match {
      case selMatch(selectList, fromRest0) =>
        val fromRest = fromRest0.trim
        val (base, tail) =
          if (fromRest.startsWith("(")) {
            val close = matchingParen(fromRest, 0)
            val inner = fromRest.substring(1, close)
            var rest = fromRest.substring(close + 1).trim
            // optional `as` keyword + alias token
            if (rest.toLowerCase.startsWith("as ")) rest = rest.substring(3).trim
            val alias = rest.takeWhile(c => !c.isWhitespace)
            rest = rest.substring(alias.length).trim
            (evalQuery(db, inner), rest)
          } else {
            val name = fromRest.takeWhile(c => !c.isWhitespace)
            val rest = fromRest.substring(name.length).trim
            val table = dbs.get(db).flatMap(_.get(stripQuotes(name).toUpperCase))
              .getOrElse(throw new java.sql.SQLException(s"stub: table $name not found in $db"))
            (table, rest)
          }
        // tail: [WHERE <pred>] [LIMIT n]
        val limitMatch = "(?is)^(.*?)\\s*LIMIT\\s+(\\d+)\\s*$".r
        val (beforeLimit, limit) = tail match {
          case limitMatch(b, n) => (b.trim, Some(n.toInt))
          case other => (other.trim, None)
        }
        val where = {
          val lower = beforeLimit.toLowerCase
          if (lower.startsWith("where")) Some(beforeLimit.substring(5).trim) else {
            require(beforeLimit.isEmpty, s"stub: unsupported tail: $beforeLimit")
            None
          }
        }
        val filtered = where.map(w => base.copy(rows = base.rows.filter(evalWhere(base, w, _)))).getOrElse(base)
        def limited(t: Table) = limit.map(n => t.copy(rows = t.rows.take(n))).getOrElse(t)
        val items = splitTopLevel(selectList.trim, ",")
        if (items.forall(AggItem.matches)) limited(aggregate(items, filtered))
        else project(selectList.trim, limited(filtered))
      case _ => throw new java.sql.SQLException(s"stub: unsupported query: $sql")
    }
  }

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new java.sql.SQLException(s"stub: unbalanced parens: $s")
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    // double quotes (ANSI/h2/postgres) or backticks (Spark's MySQLDialect)
    if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
        (t.head == '`' && t.last == '`'))) t.substring(1, t.length - 1)
    else t
  }

  private def stripOuterParens(s0: String): String = {
    var s = s0.trim
    while (s.startsWith("(") && matchingParen(s, 0) == s.length - 1) s = s.substring(1, s.length - 1).trim
    s
  }

  private def evalWhere(table: Table, pred: String, row: Vector[Any]): Boolean =
    splitTopLevel(stripOuterParens(pred), " and ").forall { term0 =>
      val term = stripOuterParens(term0)
      val lower = term.toLowerCase
      if (lower.replaceAll("\\s+", "") == "1=1") true
      else if (lower.replaceAll("\\s+", "") == "1=0") false
      else if (lower.endsWith("is not null")) {
        row(table.colIndex(stripQuotes(term.substring(0, lower.lastIndexOf("is not null"))))) != null
      } else if (lower.endsWith("is null")) {
        row(table.colIndex(stripQuotes(term.substring(0, lower.lastIndexOf("is null"))))) == null
      } else {
        val m = "(?s)^(.+?)(>=|<=|<>|!=|=|<|>)(.+)$".r
        term match {
          case m(lhs, op, rhs) =>
            val v = row(table.colIndex(stripQuotes(lhs)))
            if (v == null) false // SQL three-valued logic: comparisons with NULL are not true
            else {
              val c = compareVal(v, rhs.trim)
              op match {
                case ">=" => c >= 0
                case "<=" => c <= 0
                case "<" => c < 0
                case ">" => c > 0
                case "=" => c == 0
                case "<>" | "!=" => c != 0
              }
            }
          case _ => throw new java.sql.SQLException(s"stub: unsupported predicate term: $term")
        }
      }
    }

  /** Split on a delimiter at paren/quote depth zero (case-insensitive). */
  private def splitTopLevel(s: String, delimLower: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var depth = 0; var inQuote = false; var start = 0; var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (inQuote) { if (ch == '\'') inQuote = false; i += 1 }
      else ch match {
        case '\'' => inQuote = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ if depth == 0 && s.regionMatches(true, i, delimLower, 0, delimLower.length) =>
          out += s.substring(start, i); start = i + delimLower.length; i = start
        case _ => i += 1
      }
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def compareVal(v: Any, lit0: String): Int = {
    val lit = lit0.trim
    v match {
      case t: Timestamp =>
        val s = lit.stripPrefix("'").stripSuffix("'")
        // QueryBuilder emits UTC instants / bare dates — parse in UTC
        // always (Timestamp.valueOf would use the JVM zone).
        val parsed: Timestamp =
          if (s.matches("\\d{4}-\\d{2}-\\d{2}"))
            Timestamp.from(java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
          else if (s.endsWith("Z")) Timestamp.from(Instant.parse(s))
          else Timestamp.from(java.time.LocalDateTime.parse(s.replace(" ", "T"))
            .toInstant(java.time.ZoneOffset.UTC))
        t.compareTo(parsed)
      case s: String => s.compareTo(lit.stripPrefix("'").stripSuffix("'").replace("''", "'"))
      case n: Number => java.lang.Double.compare(n.doubleValue(), lit.toDouble)
      case b: java.lang.Boolean => b.compareTo(lit.toBoolean)
      case other => throw new java.sql.SQLException(s"stub: cannot compare $other to $lit")
    }
  }

  private val AggItem = "(?is)^(MIN|MAX)\\((.+)\\)\\s+as\\s+(\\S+)$".r

  /** One row of `MIN(c) as a` / `MAX(c) as b` over integral columns; NULL
    * over no (non-NULL) rows.
    */
  private def aggregate(items: Vector[String], t: Table): Table = {
    val cols = items.map { case AggItem(fn, c, alias) =>
      val idx = t.colIndex(stripQuotes(c))
      val vals = t.rows.map(_(idx)).collect { case n: Number => n }
      val pick = if (fn.equalsIgnoreCase("MIN")) vals.minByOption(_.longValue) else vals.maxByOption(_.longValue)
      (t.cols(idx).copy(name = alias, nullable = true), pick.orNull: Any)
    }
    Table(cols.map(_._1), Vector(cols.map(_._2)))
  }

  private def project(selectList: String, t: Table): Table =
    if (selectList == "*") t
    else {
      val items = splitTopLevel(selectList, ",")
      val picked = items.map { item =>
        val it = item.trim
        if (it.matches("\\d+")) // Spark's zero-column count scan: SELECT 1 FROM …
          (Col("1", Types.INTEGER), (_: Vector[Any]) => it.toLong.asInstanceOf[Any])
        else {
          val idx = t.colIndex(stripQuotes(it))
          (t.cols(idx), (r: Vector[Any]) => r(idx))
        }
      }
      Table(picked.map(_._1), t.rows.map(r => picked.map(_._2(r))))
    }

  // ------------------------------------------------------------- JDBC proxies

  /** A Connection proxy over the registry. Unknown interface methods return
    * type-appropriate defaults, so minor Spark-version drift in the JDBC
    * protocol (extra `setAutoCommit`, `getWarnings`, … calls) never breaks
    * the stub.
    */
  def connect(url: String): Connection = {
    val db = dbName(url)
    append(db, s"connect($db)")
    connectionProxy(db)
  }

  private def defaultFor(cls: Class[_]): AnyRef = cls match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case java.lang.Short.TYPE => java.lang.Short.valueOf(0.toShort)
    case java.lang.Byte.TYPE => java.lang.Byte.valueOf(0.toByte)
    case java.lang.Double.TYPE => java.lang.Double.valueOf(0d)
    case java.lang.Float.TYPE => java.lang.Float.valueOf(0f)
    case java.lang.Character.TYPE => java.lang.Character.valueOf(' ')
    case java.lang.Void.TYPE => null
    case _ => null
  }

  private def proxy[T](iface: Class[T])(pf: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    iface.cast(Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args0: Array[AnyRef]): AnyRef = {
          val args = if (args0 == null) Array.empty[AnyRef] else args0
          if (m.getDeclaringClass == classOf[Object]) m.getName match {
            case "equals" => java.lang.Boolean.valueOf(p.asInstanceOf[AnyRef] eq args(0))
            case "hashCode" => Integer.valueOf(System.identityHashCode(p))
            case _ => s"stub-${iface.getSimpleName}"
          }
          else pf.applyOrElse((m.getName, args), (_: (String, Array[AnyRef])) => defaultFor(m.getReturnType))
        }
      }))

  private def connectionProxy(db: String): Connection = proxy(classOf[Connection]) {
    case ("prepareStatement", args) =>
      val sql = args(0).asInstanceOf[String]
      append(db, s"prepareStatement($sql)")
      preparedProxy(db, sql)
    case ("createStatement", _) => statementProxy(db)
    case ("getMetaData", _) => proxy(classOf[DatabaseMetaData]) {
      case ("getURL", _) => s"jdbc:h2:mem:$db"
      case ("getDatabaseProductName", _) => "H2-stub"
      case ("getDriverName", _) => "graft-stub-jdbc"
    }
    case ("isValid", _) => java.lang.Boolean.TRUE
    case ("getAutoCommit", _) => java.lang.Boolean.TRUE
  }

  private def preparedProxy(db: String, sql: String): PreparedStatement =
    proxy(classOf[PreparedStatement]) {
      case ("executeQuery", _) =>
        append(db, "main.executeQuery")
        faultFor(db, sql).filter(_.failOnExecute)
          .foreach(f => throw new java.sql.SQLException(f.message))
        resultSetProxy(runQuery(db, sql), faultFor(db, sql), db, sql)
      case ("execute", _) =>
        // sessionInitStatement path: Spark prepares the init SQL and
        // calls execute() — record it as a pre-command
        append(db, s"pre.execute($sql)")
        java.lang.Boolean.valueOf(sql.trim.toLowerCase.startsWith("select"))
      case ("setFetchSize", args) =>
        append(db, s"main.setFetchSize(${args(0)})"); null
      case ("setQueryTimeout", _) => null
      case ("getMetaData", _) => metaDataProxy(runQuery(db, sql).cols)
    }

  private def statementProxy(db: String): Statement = proxy(classOf[Statement]) {
    case ("executeQuery", args) =>
      val sql = args(0).asInstanceOf[String]
      append(db, s"stmt.executeQuery($sql)")
      faultFor(db, sql).filter(_.failOnExecute)
        .foreach(f => throw new java.sql.SQLException(f.message))
      resultSetProxy(runQuery(db, sql), faultFor(db, sql), db, sql)
    case ("execute", args) =>
      val sql = args(0).asInstanceOf[String]
      append(db, s"pre.execute($sql)")
      java.lang.Boolean.valueOf(sql.trim.toLowerCase.startsWith("select"))
    case ("setFetchSize", args) =>
      append(db, s"stmt.setFetchSize(${args(0)})"); null
  }

  private def metaDataProxy(cols: Vector[Col]): ResultSetMetaData =
    proxy(classOf[ResultSetMetaData]) {
      case ("getColumnCount", _) => Integer.valueOf(cols.size)
      case ("getColumnLabel", args) => cols(args(0).asInstanceOf[Integer] - 1).name
      case ("getColumnName", args) => cols(args(0).asInstanceOf[Integer] - 1).name
      case ("getColumnType", args) => Integer.valueOf(cols(args(0).asInstanceOf[Integer] - 1).sqlType)
      case ("getColumnTypeName", args) =>
        val c = cols(args(0).asInstanceOf[Integer] - 1)
        if (c.typeNameOv != null) c.typeNameOv else typeName(c.sqlType)
      case ("getPrecision", args) =>
        val c = cols(args(0).asInstanceOf[Integer] - 1)
        Integer.valueOf(if (c.precision > 0) c.precision else precision(c.sqlType))
      case ("getScale", args) => Integer.valueOf(cols(args(0).asInstanceOf[Integer] - 1).scale)
      case ("isSigned", args) =>
        val c = cols(args(0).asInstanceOf[Integer] - 1)
        val t = c.sqlType
        java.lang.Boolean.valueOf(!c.unsigned &&
          (t == Types.INTEGER || t == Types.BIGINT || t == Types.DOUBLE ||
          t == Types.SMALLINT || t == Types.REAL || t == Types.FLOAT ||
          t == Types.DECIMAL || t == Types.NUMERIC))
      case ("getColumnClassName", args) =>
        // the MySQL-driver convention the reference's unsigned rule keys on
        val c = cols(args(0).asInstanceOf[Integer] - 1)
        if (c.unsigned && c.sqlType == Types.INTEGER) "java.lang.Long"
        else c.sqlType match {
          case Types.INTEGER => "java.lang.Integer"
          case Types.BIGINT => "java.lang.Long"
          case Types.VARCHAR => "java.lang.String"
          case Types.DOUBLE => "java.lang.Double"
          case Types.TIMESTAMP => "java.sql.Timestamp"
          case _ => "java.lang.Object"
        }
      case ("isNullable", args) =>
        Integer.valueOf(if (cols(args(0).asInstanceOf[Integer] - 1).nullable)
          ResultSetMetaData.columnNullable else ResultSetMetaData.columnNoNulls)
    }

  private def typeName(t: Int): String = t match {
    case Types.VARCHAR => "VARCHAR"
    case Types.INTEGER => "INTEGER"
    case Types.SMALLINT => "SMALLINT"
    case Types.BIGINT => "BIGINT"
    case Types.DOUBLE => "DOUBLE"
    case Types.REAL | Types.FLOAT => "REAL"
    case Types.DECIMAL | Types.NUMERIC => "DECIMAL"
    case Types.TIMESTAMP => "TIMESTAMP"
    case Types.DATE => "DATE"
    case Types.BOOLEAN => "BOOLEAN"
    case _ => "OTHER"
  }

  private def precision(t: Int): Int = t match {
    case Types.VARCHAR => 255
    case Types.INTEGER => 10
    case Types.SMALLINT => 5
    case Types.BIGINT => 19
    case Types.DOUBLE => 17
    case Types.REAL | Types.FLOAT => 7
    case Types.TIMESTAMP => 29
    case Types.DATE => 10
    case _ => 0
  }

  /** Array cell values are stored as `Vector[Any]` in [[Table.rows]]; this
    * wraps one as the `java.sql.Array` the real Postgres driver hands back:
    * `getArray` returns a boxed `Object[]` (what Spark's `JdbcUtils` array
    * getter consumes), `getBaseType`/`getBaseTypeName` serve the
    * `typed_first_row` probe (`avro/JdbcAvroSchema.java:183-186,277-292`).
    */
  private def sqlArrayProxy(items: Vector[Any], col: Col): java.sql.Array =
    proxy(classOf[java.sql.Array]) {
      case ("getArray", _) => items.map(_.asInstanceOf[AnyRef]).toArray
      case ("getBaseType", _) => Integer.valueOf(col.itemType)
      case ("getBaseTypeName", _) =>
        if (col.itemTypeName != null) col.itemTypeName
        else Option(col.typeNameOv).map(_.stripPrefix("_")).orNull
    }

  /** Postgres text form of an array — what `getBytes` on an array column
    * yields in the reference's lossy `bytes` mode
    * (`avro/JdbcAvroRecord.java:96-99`): deterministic, opaque.
    */
  private def arrayTextBytes(items: Vector[Any]): Array[Byte] =
    items.map(v => if (v == null) "NULL" else v.toString)
      .mkString("{", ",", "}").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def resultSetProxy(t: Table, fault: Option[Fault] = None,
      db: String = null, sql: String = ""): ResultSet = {
    var cursor = -1
    var nullSeen = false
    // Data scans (>1 row) participate in the concurrency stats/barrier;
    // the schema/bounds/LIMIT-1 probes (≤1 row) never do.
    val isDataScan = db != null && t.rows.size > 1
    val rowDelayMs = if (db == null) 0L else delayFor(db, sql)
    var ended = false
    def endScan(completedOk: Boolean): Unit =
      if (isDataScan && cursor >= 0 && !ended) { ended = true; stats(db).onEnd(completedOk) }
    /** Bounded wait for the fault's concurrency barrier: the failure must
      * land while sibling scans are provably live; a 10 s timeout fails
      * open (throws anyway) so a mis-sized barrier can't hang the suite.
      */
    def awaitBarrier(f: Fault): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (System.nanoTime() < deadline &&
          (stats(db).started.get() < f.awaitStartedScans ||
           stats(db).completed.get() < f.awaitCompletedScans)) {
        Thread.sleep(5)
      }
    }
    def value(args: Array[AnyRef]): Any = {
      val v = args(0) match {
        case i: Integer => t.rows(cursor)(i - 1)
        case label: String => t.rows(cursor)(t.colIndex(label))
      }
      nullSeen = v == null
      v
    }
    def colOf(args: Array[AnyRef]): Col = args(0) match {
      case i: Integer => t.cols(i - 1)
      case label: String => t.cols(t.colIndex(label))
    }
    proxy(classOf[ResultSet]) {
      case ("next", _) =>
        cursor += 1
        if (isDataScan && cursor == 0) stats(db).onStart()
        // per-row latency injection: keeps this split verifiably mid-stream
        // while another split fails. Task cancellation interrupts the
        // sleep — treat it as end-of-stream, preserving the interrupt flag.
        var interrupted = false
        if (rowDelayMs > 0 && cursor < t.rows.size) {
          try Thread.sleep(rowDelayMs)
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt()
            endScan(completedOk = false)
            interrupted = true
          }
        }
        if (interrupted) java.lang.Boolean.FALSE
        else {
          // mid-ResultSet wire failure: throw after `failAfterRows` rows
          // have been served (the (n+1)-th next() call), like a dropped
          // connection
          for (f <- fault if f.failAfterRows >= 0 && cursor >= f.failAfterRows) {
            if (isDataScan && (f.awaitStartedScans > 0 || f.awaitCompletedScans > 0))
              awaitBarrier(f)
            if (f.failDelayMs > 0) Thread.sleep(f.failDelayMs)
            endScan(completedOk = false)
            throw new java.sql.SQLException(f.message)
          }
          if (cursor >= t.rows.size) endScan(completedOk = true)
          java.lang.Boolean.valueOf(cursor < t.rows.size)
        }
      case ("close", _) =>
        endScan(completedOk = false); null
      case ("getMetaData", _) => metaDataProxy(t.cols)
      case ("wasNull", _) => java.lang.Boolean.valueOf(nullSeen)
      case ("getObject", args) => value(args).asInstanceOf[AnyRef]
      case ("getString", args) => value(args) match {
        case null => null
        case s => s.toString
      }
      case ("getLong", args) => value(args) match {
        case null => java.lang.Long.valueOf(0L)
        case n: Number => java.lang.Long.valueOf(n.longValue())
      }
      case ("getInt", args) => value(args) match {
        case null => Integer.valueOf(0)
        case n: Number => Integer.valueOf(n.intValue())
      }
      case ("getDouble", args) => value(args) match {
        case null => java.lang.Double.valueOf(0d)
        case n: Number => java.lang.Double.valueOf(n.doubleValue())
      }
      case ("getBoolean", args) => value(args) match {
        case null => java.lang.Boolean.FALSE
        case b: java.lang.Boolean => b
      }
      case ("getTimestamp", args) => value(args) match {
        case null => null
        case ts: Timestamp => ts
      }
      case ("getDate", args) => value(args) match {
        case null => null
        case d: java.sql.Date => d
      }
      case ("getShort", args) => value(args) match {
        case null => java.lang.Short.valueOf(0.toShort)
        case n: Number => java.lang.Short.valueOf(n.shortValue())
      }
      case ("getFloat", args) => value(args) match {
        case null => java.lang.Float.valueOf(0f)
        case n: Number => java.lang.Float.valueOf(n.floatValue())
      }
      case ("getBigDecimal", args) => value(args) match {
        case null => null
        case d: java.math.BigDecimal => d
        case n: Number => new java.math.BigDecimal(n.toString)
      }
      case ("getArray", args) => value(args) match {
        case null => null
        case vec: Vector[_] => sqlArrayProxy(vec.asInstanceOf[Vector[Any]], colOf(args))
      }
      case ("getBytes", args) => value(args) match {
        case null => null
        case b: Array[Byte] => b
        case vec: Vector[_] => arrayTextBytes(vec.asInstanceOf[Vector[Any]])
      }
    }
  }
}
