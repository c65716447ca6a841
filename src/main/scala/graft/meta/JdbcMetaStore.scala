package graft.meta

import java.io.File
import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.json4s._
import org.json4s.jackson.Serialization
import org.json4s.jackson.Serialization.{read => jread, write => jwrite}

/** Multi-host [[MetaStore]] over any JDBC database — the analogue of the
  * reference's PostgreSQL catalog (lakesoul-common
  * `meta/DBManager.java:423-620` `commitData`/`appendConflict`;
  * `docker/lakesoul-docker-compose-env/meta_init.sql` table shapes), where
  * the database — not a driver-local file lock — arbitrates concurrent
  * writers across hosts. Tested against Derby (embedded + in-memory, on
  * Spark's classpath); the SQL is deliberately ANSI-portable so the same
  * store runs against PostgreSQL on a real cluster (`jdbc:postgresql:...`).
  * Select it with `-Dgraft.meta.uri=jdbc:...` or by passing the store to
  * `GraftTable.forPath/create` directly.
  *
  * DATA MODEL — the same log-ordered semantics as [[FileMetaStore]] (head =
  * LAST log line per partition, not max version; rollback re-appends an old
  * version; drop appends version -1), so every consumer sees identical
  * history on either backend:
  *   - graft_table_info(table_path PK, rev, info)        — TableInfo JSON;
  *     `rev` drives CAS property read-modify-writes
  *   - graft_seq(table_path PK, next_seq, last_ts)       — per-table commit
  *     serializer: every writing transaction X-locks this row FIRST (total
  *     lock order → no deadlocks) and allocates log sequence numbers and
  *     strictly-increasing commit timestamps from it
  *   - graft_partition_log(table_path, seq PK, ...)      — the version log,
  *     one row per PartitionInfo line, ordered by seq
  *   - graft_partition_head(table_path, partition_desc PK, version, seq)
  *     — head pointer per partition; the optimistic-CAS arbitration surface
  *   - graft_commit_info(table_path, commit_id PK, info) — DataCommitInfo
  *     JSON, immutable once written (cached forever)
  *   - graft_stream_batch(table_path, query_id PK, max_batch)
  *
  * CONCURRENCY: `commit` runs the protocol every store shares,
  * [[MetaStore.publish]], INSIDE the transaction after taking the per-table
  * lock row — a stale writer gets [[MetaRerunException]] and the
  * caller's retry loop re-reads and replays, exactly the reference's
  * conflict path (`appendConflict` retries, `MetaRerunException`
  * TransactionCommit.scala:398-427). Lock-timeout/deadlock SQLStates map to
  * [[MetaRerunException]] too, so a contended catalog degrades to retries,
  * never to wrong answers.
  *
  * TABLE IDENTITY: the `table_path` key is a LEXICAL normalization of the
  * path/URI the caller passed — no symlink resolution, so the key is
  * host-independent. All hosts must address a table by the same absolute
  * path or URI (e.g. `s3://bucket/tables/t`); two hosts reaching the same
  * bytes through different mount points are, by design, different tables
  * to the catalog. */
class JdbcMetaStore(url: String) extends MetaStore {
  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  if (url.startsWith("jdbc:derby:"))
    try Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    catch { case _: Throwable => () } // SPI autoload usually suffices

  // ------------------------------------------------------------ connections
  private val pool = new ConcurrentLinkedQueue[Connection]()

  private def borrow(): Connection = {
    var c = pool.poll()
    while (c != null && c.isClosed) c = pool.poll()
    if (c == null) c = DriverManager.getConnection(url)
    c
  }

  private def withConn[T](f: Connection => T): T = {
    val c = borrow()
    var ok = false
    try {
      val r = f(c); ok = true; r
    } catch {
      // autocommit READS hit lock timeouts too: Derby escalates when a
      // concurrent writer's transaction holds X-locks on head/log rows the
      // read scans (the concurrency suite reproduces it under 6 writers).
      // Reads are idempotent, so surface the same retryable signal the
      // write path uses — callers' withRetry loops re-run the whole
      // read/stage/commit attempt.
      case s: SQLException if isContention(s) =>
        throw new MetaRerunException(s"catalog read contention: ${s.getMessage}",
          cause = s)
    } finally {
      if (ok) pool.offer(c)
      else try c.close() catch { case _: Throwable => () }
    }
  }

  /** One transaction; maps arbitration SQLStates to [[MetaRerunException]]. */
  private def withTx[T](f: Connection => T): T = withConn { c =>
    c.setAutoCommit(false)
    try {
      val r = f(c)
      c.commit()
      c.setAutoCommit(true)
      r
    } catch {
      case e: Throwable =>
        try c.rollback() catch { case _: Throwable => () }
        c.setAutoCommit(true)
        e match {
          case s: SQLException if isContention(s) =>
            throw new MetaRerunException(s"catalog contention: ${s.getMessage}")
          case _ => throw e
        }
    }
  }

  private def isContention(e: SQLException): Boolean = {
    val st = Option(e.getSQLState).getOrElse("")
    // 40001 serialization failure (PG), 40XL1/40XL2 lock timeout (Derby),
    // 40001 also Derby deadlock
    st.startsWith("40")
  }

  private def isDuplicate(e: SQLException): Boolean =
    Option(e.getSQLState).contains("23505")

  /** Filesystem-INDEPENDENT table identity key. Must NOT use
    * File.getCanonicalPath: that resolves symlinks against the LOCAL
    * filesystem and mangles URI-style paths (s3://bucket/t), so two hosts
    * mounting the same data differently would register the same table under
    * different keys and the cross-host commit arbitration this store exists
    * for would never see the conflict. Instead: pure lexical normalization
    * — URI paths keep `scheme://authority` (scheme lower-cased) and the
    * path part is segment-normalized; local paths are made absolute against
    * the CWD (hosts must address tables by absolute path or URI — see the
    * class doc) and segment-normalized, symlinks left untouched. */
  private def canonical(p: String): String = {
    val schemeIdx = p.indexOf("://")
    if (schemeIdx > 0 && p.substring(0, schemeIdx).forall(ch =>
        ch.isLetterOrDigit || ch == '+' || ch == '-' || ch == '.')) {
      val scheme = p.substring(0, schemeIdx).toLowerCase
      val rest = p.substring(schemeIdx + 3)
      val slash = rest.indexOf('/')
      val (auth, path) =
        if (slash < 0) (rest, "") else (rest.substring(0, slash), rest.substring(slash))
      s"$scheme://$auth${normalizeSegments(path)}"
    } else {
      val abs = if (p.startsWith("/")) p else new File(p).getAbsolutePath
      normalizeSegments(abs.replace(File.separatorChar, '/'))
    }
  }

  /** Collapse `//`, `.` and `..` segments lexically (no filesystem access);
    * drops any trailing slash. Input is an absolute path ("" allowed). */
  private def normalizeSegments(path: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    path.split('/').foreach {
      case "" | "." => ()
      case ".."     => if (out.nonEmpty) out.remove(out.size - 1)
      case seg      => out += seg
    }
    if (out.isEmpty) "/" else out.mkString("/", "/", "")
  }

  // ------------------------------------------------------------------- DDL
  private val ddl = Seq(
    """CREATE TABLE graft_table_info (
       table_path VARCHAR(1000) NOT NULL PRIMARY KEY,
       rev INT NOT NULL,
       info CLOB NOT NULL)""",
    """CREATE TABLE graft_seq (
       table_path VARCHAR(1000) NOT NULL PRIMARY KEY,
       next_seq BIGINT NOT NULL,
       last_ts BIGINT NOT NULL)""",
    """CREATE TABLE graft_partition_log (
       table_path VARCHAR(1000) NOT NULL,
       seq BIGINT NOT NULL,
       partition_desc VARCHAR(1000) NOT NULL,
       version INT NOT NULL,
       commit_op VARCHAR(20) NOT NULL,
       ts BIGINT NOT NULL,
       snapshot CLOB NOT NULL,
       PRIMARY KEY (table_path, seq))""",
    """CREATE INDEX graft_plog_desc
       ON graft_partition_log (table_path, partition_desc)""",
    """CREATE INDEX graft_plog_ts
       ON graft_partition_log (table_path, ts)""",
    """CREATE TABLE graft_partition_head (
       table_path VARCHAR(1000) NOT NULL,
       partition_desc VARCHAR(1000) NOT NULL,
       version INT NOT NULL,
       seq BIGINT NOT NULL,
       PRIMARY KEY (table_path, partition_desc))""",
    """CREATE TABLE graft_commit_info (
       table_path VARCHAR(1000) NOT NULL,
       commit_id VARCHAR(64) NOT NULL,
       info CLOB NOT NULL,
       PRIMARY KEY (table_path, commit_id))""",
    """CREATE TABLE graft_stream_batch (
       table_path VARCHAR(1000) NOT NULL,
       query_id VARCHAR(300) NOT NULL,
       max_batch BIGINT NOT NULL,
       PRIMARY KEY (table_path, query_id))""",
    """CREATE TABLE graft_namespace (
       namespace VARCHAR(500) NOT NULL PRIMARY KEY,
       domain VARCHAR(200) NOT NULL)""")

  locally {
    // CREATE only what is missing, probed through DatabaseMetaData, which
    // takes no DDL locks. Re-running every CREATE on a live database
    // stalled the constructor: a CREATE INDEX on an existing table waits
    // for the table lock that any open commit transaction holds, up to
    // Derby's lock-wait timeout (~60 s) while writers keep committing.
    // Each missing object is still created under the "already exists"
    // SQLState guard: a second host bootstrapping at the same time may
    // create it between the probe and the CREATE. (Gating all DDL on
    // graft_table_info's presence instead had a bootstrap race: a host
    // connecting while the first is mid-DDL would see graft_table_info,
    // skip the rest, and fail on the still-missing tables.)
    //
    // BOUNDED CONTENTION RETRY: a bootstrap CREATE can still hit a
    // dictionary-lock timeout (40XL1) against a concurrent bootstrap, and
    // a constructor has no caller-side retry loop to absorb it. Each
    // statement retries briefly; contention here is transient.
    withConn { c =>
      val existing = existingObjects(c)
      ddl.filterNot(stmt => existing(objectName(stmt))).foreach { stmt =>
        var attempts = 0
        var done = false
        while (!done) {
          val s = c.createStatement()
          try { s.execute(stmt); done = true }
          catch {
            case e: SQLException if existsAlready(e) => done = true
            case e: SQLException if isContention(e) && attempts < 20 =>
              attempts += 1
              Thread.sleep(50L * math.min(attempts, 5))
          } finally s.close()
        }
      }
    }
  }

  /** Lower-cased name of the table or index a [[ddl]] statement creates. */
  private def objectName(stmt: String): String =
    "CREATE (?:TABLE|INDEX) (\\w+)".r.findFirstMatchIn(stmt).get.group(1).toLowerCase

  /** Lower-cased names of the graft tables and their indexes in the
    * connection's schema, read through DatabaseMetaData. */
  private def existingObjects(c: Connection): Set[String] = {
    val md = c.getMetaData
    def names(rs: java.sql.ResultSet, col: String): Seq[String] =
      try Iterator.continually(rs).takeWhile(_.next()).map(_.getString(col)).toList
      finally rs.close()
    val ours = ddl.map(objectName).toSet
    val tables = names(md.getTables(null, c.getSchema, "%", Array("TABLE")), "TABLE_NAME")
      .filter(t => ours(t.toLowerCase))
    (tables ++ tables.flatMap(t =>
      names(md.getIndexInfo(null, c.getSchema, t, false, true), "INDEX_NAME")))
      .filter(_ != null).map(_.toLowerCase).toSet
  }

  private def existsAlready(e: SQLException): Boolean = {
    val st = Option(e.getSQLState).getOrElse("")
    st == "X0Y32" || st == "42P07" // Derby / PostgreSQL "already exists"
  }

  // ------------------------------------------------------------- internals
  /** X-lock the table's serializer row (self-assignment UPDATE — portable
    * row lock held to transaction end). Requires the table to exist. */
  private def lockTable(c: Connection, tp: String): Unit = {
    val ps = c.prepareStatement(
      "UPDATE graft_seq SET next_seq = next_seq + 0 WHERE table_path = ?")
    try {
      ps.setString(1, tp)
      if (ps.executeUpdate() != 1)
        throw new IllegalArgumentException(s"no graft table at $tp")
    } finally ps.close()
  }

  /** Allocate `n` log sequence numbers and one strictly-increasing commit
    * timestamp, past [[MetaStore.stampFloor]] of the persisted `last_ts`
    * and `info`, the table info the caller read in this transaction.
    * Caller holds the lock row. Returns (firstSeq, ts). */
  private def allocate(c: Connection, tp: String, n: Int,
      info: Option[TableInfo]): (Long, Long) = {
    val rd = c.prepareStatement(
      "SELECT next_seq, last_ts FROM graft_seq WHERE table_path = ?")
    val (seq0, lastTs) = try {
      rd.setString(1, tp)
      val rs = rd.executeQuery()
      require(rs.next(), s"no graft table at $tp")
      val r = (rs.getLong(1), rs.getLong(2)); rs.close(); r
    } finally rd.close()
    val ts = math.max(System.currentTimeMillis(),
      MetaStore.stampFloor(lastTs, info) + 1)
    val up = c.prepareStatement(
      "UPDATE graft_seq SET next_seq = ?, last_ts = ? WHERE table_path = ?")
    try {
      up.setLong(1, seq0 + n); up.setLong(2, ts); up.setString(3, tp)
      up.executeUpdate()
    } finally up.close()
    (seq0, ts)
  }

  private def rowToPi(rs: java.sql.ResultSet): PartitionInfo =
    PartitionInfo(rs.getString("partition_desc"), rs.getInt("version"),
      jread[Seq[String]](rs.getString("snapshot")), rs.getString("commit_op"),
      rs.getLong("ts"))

  private def logRows(c: Connection, tp: String,
      desc: Option[String]): Vector[PartitionInfo] = {
    val sql = "SELECT partition_desc, version, commit_op, ts, snapshot " +
      "FROM graft_partition_log WHERE table_path = ?" +
      desc.map(_ => " AND partition_desc = ?").getOrElse("") + " ORDER BY seq"
    val ps = c.prepareStatement(sql)
    try {
      ps.setString(1, tp)
      desc.foreach(ps.setString(2, _))
      val rs = ps.executeQuery()
      val b = Vector.newBuilder[PartitionInfo]
      while (rs.next()) b += rowToPi(rs)
      rs.close(); b.result()
    } finally ps.close()
  }

  /** Head LOG rows of the given partitions — INCLUDING dropped heads
    * (version -1), which callers that only want live heads must filter.
    * IN-lists are chunked small: a multi-thousand-parameter IN degrades to
    * a full scan of the (growing) head table on Derby — quadratic fill —
    * while ≤100-element lists stay on PK multi-probes, constant per desc. */
  private def headRows(c: Connection, tp: String,
      descs: Seq[String]): Vector[PartitionInfo] = {
    val b = Vector.newBuilder[PartitionInfo]
    descs.grouped(100).foreach { chunk =>
      val marks = chunk.map(_ => "?").mkString(",")
      val ps = c.prepareStatement(
        "SELECT l.partition_desc, l.version, l.commit_op, l.ts, l.snapshot " +
          "FROM graft_partition_head h JOIN graft_partition_log l " +
          "ON h.table_path = l.table_path AND h.seq = l.seq " +
          s"WHERE h.table_path = ? AND h.partition_desc IN ($marks)")
      try {
        ps.setString(1, tp)
        chunk.zipWithIndex.foreach { case (d, i) => ps.setString(i + 2, d) }
        val rs = ps.executeQuery()
        while (rs.next()) b += rowToPi(rs)
        rs.close()
      } finally ps.close()
    }
    b.result()
  }

  /** Heads of the given partitions (absent / dropped = not in the map). */
  private def readHeads(c: Connection, tp: String,
      descs: Seq[String]): Map[String, PartitionInfo] =
    headRows(c, tp, descs).iterator.filter(_.version >= 0)
      .map(pi => pi.partitionDesc -> pi).toMap

  /** The ONE log-append path, under the caller's held table lock: one log
    * line per entry of `descs` (log order), built by `build` from the
    * touched partitions' live heads and the allocated commit timestamp.
    * JDBC-batched — a constant number of round trips however many lines
    * (seq + one head-row read + batched log INSERT + batched head UPDATEs
    * and INSERTs), not O(lines): the difference between ~180 and >10k
    * partition-commits/s for a wide streaming ingest (see
    * tools/JdbcCatalogProbe). Only the FINAL line per partition becomes its
    * head pointer. Returns the appended lines. */
  private def appendLines(c: Connection, tp: String, descs: Seq[String],
      info: Option[TableInfo])(
      build: (Map[String, PartitionInfo], Long) => Seq[PartitionInfo]): Seq[PartitionInfo] = {
    val (seq0, ts) = allocate(c, tp, descs.size, info)
    val rows = headRows(c, tp, descs.distinct)
    val lines = build(rows.iterator.filter(_.version >= 0)
      .map(pi => pi.partitionDesc -> pi).toMap, ts)
    val finals = scala.collection.mutable.LinkedHashMap[String, (PartitionInfo, Long)]()
    val insLog = c.prepareStatement(
      "INSERT INTO graft_partition_log (table_path, seq, partition_desc, " +
        "version, commit_op, ts, snapshot) VALUES (?,?,?,?,?,?,?)")
    try {
      lines.zipWithIndex.foreach { case (pi, i) =>
        insLog.setString(1, tp); insLog.setLong(2, seq0 + i)
        insLog.setString(3, pi.partitionDesc); insLog.setInt(4, pi.version)
        insLog.setString(5, pi.commitOp); insLog.setLong(6, pi.timestamp)
        insLog.setString(7, jwrite(pi.snapshot)); insLog.addBatch()
        finals(pi.partitionDesc) = (pi, seq0 + i)
      }
      insLog.executeBatch()
    } finally insLog.close()
    // dropped partitions (version -1) still own a head ROW that a re-create
    // must UPDATE, not re-INSERT
    val existingRows = rows.iterator.map(_.partitionDesc).toSet
    val (toUpdate, toInsert) = finals.toSeq.partition { case (d, _) => existingRows(d) }
    if (toUpdate.nonEmpty) {
      val up = c.prepareStatement(
        "UPDATE graft_partition_head SET version = ?, seq = ? " +
          "WHERE table_path = ? AND partition_desc = ?")
      try {
        toUpdate.foreach { case (d, (pi, s)) =>
          up.setInt(1, pi.version); up.setLong(2, s)
          up.setString(3, tp); up.setString(4, d); up.addBatch()
        }
        // JDBC allows drivers to report SUCCESS_NO_INFO (-2) for batch
        // elements; only an explicit 0 means the head row vanished.
        require(up.executeBatch().forall(n =>
            n == 1 || n == java.sql.Statement.SUCCESS_NO_INFO),
          s"head row vanished mid-commit for $tp")
      } finally up.close()
    }
    if (toInsert.nonEmpty) {
      val ins = c.prepareStatement(
        "INSERT INTO graft_partition_head (table_path, partition_desc, " +
          "version, seq) VALUES (?,?,?,?)")
      try {
        toInsert.foreach { case (d, (pi, s)) =>
          ins.setString(1, tp); ins.setString(2, d)
          ins.setInt(3, pi.version); ins.setLong(4, s); ins.addBatch()
        }
        ins.executeBatch()
      } catch {
        // lost a first-create race (other writer committed between our
        // existence read and this INSERT — possible under READ_COMMITTED)
        case e: java.sql.BatchUpdateException if batchHasDuplicate(e) =>
          throw new MetaRerunException("partition created concurrently")
      } finally ins.close()
    }
    lines
  }

  // ---------------------------------------------------------------- tables
  // -------------------------------------------------- domain authorization
  // Mirrors the reference's PG row-level security at the store API (see
  // [[AuthContext]]): foreign-domain tables are INVISIBLE (getTableInfo
  // None, mutations behave as not-found), namespaces carry domains, and
  // only admins manage them. Cost on the hot path is one ConcurrentHashMap
  // hit: tablePath -> (domain, cachedAtMs) is cached (a table's domain is
  // set at create and recomputed on updateTableInfo) with a bounded TTL —
  // a FOREIGN JVM's domain handoff (updateTableInfo in another process
  // refreshes only ITS cache) is observed here within the TTL window
  // instead of never. Same-JVM writes still refresh immediately.
  private val domainCache = new ConcurrentHashMap[String, (String, Long)]()

  /** Max staleness of a cached domain (ms); tests shrink it to force
    * cross-store observation, 0 disables caching entirely. */
  private val domainTtlMs: Long =
    sys.props.get("graft.meta.domainCacheTtlMs").map(_.toLong).getOrElse(30000L)

  // TTL expiry on the MONOTONIC clock (ADVICE r13): currentTimeMillis can
  // jump backwards under NTP step/slew, silently extending the
  // access-control staleness window past the configured bound; nanoTime
  // cannot. The cached timestamp is nanos since JVM start.
  private def cacheDomain(tp: String, d: String): Unit =
    domainCache.put(tp, (d, System.nanoTime()))

  private def cachedDomain(tp: String): Option[String] =
    Option(domainCache.get(tp)).collect {
      case (d, at) if System.nanoTime() - at < domainTtlMs * 1000000L => d
    }

  private def domainOf(info: TableInfo): String =
    info.properties.getOrElse(TableInfo.DomainProp, AuthContext.PublicDomain)

  /** Raw info read on a CALLER-HELD connection (inside a tx holding the
    * table lock — the in-tx twin of [[rawTableInfo]]). */
  private def rawInfoIn(c: Connection, tp: String): Option[TableInfo] = {
    val ps = c.prepareStatement(
      "SELECT info FROM graft_table_info WHERE table_path = ?")
    try {
      ps.setString(1, tp)
      val rs = ps.executeQuery()
      val r = if (rs.next()) Some(jread[TableInfo](rs.getString(1))) else None
      rs.close(); r
    } finally ps.close()
  }

  /** Raw (unauthorized) info read by CANONICAL path. */
  private def rawTableInfo(tp: String): Option[TableInfo] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT info FROM graft_table_info WHERE table_path = ?")
    try {
      ps.setString(1, tp)
      val rs = ps.executeQuery()
      val r = if (rs.next()) Some(jread[TableInfo](rs.getString(1))) else None
      rs.close(); r
    } finally ps.close()
  }

  /** True when the caller may see/write `tp` (absent tables are "visible":
    * the op then takes its normal not-found path, which is also what a
    * hidden table reports — the two are indistinguishable by design). */
  private def visibleTo(
      caller: AuthContext, tp: String, fresh: Boolean = false): Boolean = {
    val d = (if (fresh) None else cachedDomain(tp)).orElse(
      rawTableInfo(tp).map { i =>
        val dd = domainOf(i); cacheDomain(tp, dd); dd
      })
    d.forall(AuthContext.canAccess(caller, _))
  }

  /** Gate for ops on an existing table: a foreign-domain table reports
    * exactly like a missing one ("cannot be found" in the reference).
    * `fresh = true` bypasses the domain cache (ADVICE r13): DATA-mutation
    * entry points re-validate against the stored row so a cross-JVM domain
    * revocation is honored immediately on writes — the TTL staleness
    * window applies only to reads. One extra SELECT per commit, noise
    * against the commit transaction's existing round trips. */
  private def requireVisible(
      tp: String, original: String, fresh: Boolean = false): Unit =
    if (!visibleTo(AuthContext.current, tp, fresh))
      throw new IllegalArgumentException(s"no graft table at $original")

  override def createTable(info: TableInfo): Unit = {
    val caller = AuthContext.current
    // table creation under a registered namespace inherits its domain and
    // requires the namespace to be visible (reference: cross-domain CREATE
    // fails with NoSuchNamespaceException)
    val nsDomain = info.shortName
      .map(n => n.split('.').dropRight(1).mkString("."))
      .filter(_.nonEmpty).flatMap(rawNamespaceDomain)
    nsDomain.foreach { d =>
      if (!AuthContext.canAccess(caller, d))
        throw new IllegalArgumentException(
          s"no such namespace for table ${info.shortName.get}")
    }
    val stamped = info.properties.get(TableInfo.DomainProp) match {
      case Some(d) =>
        if (!AuthContext.canAccess(caller, d))
          throw new PermissionDeniedException(
            s"new table violates row-level security policy: domain '$d' " +
              s"is not caller domain '${caller.domain}'")
        info
      case None =>
        val d = nsDomain.getOrElse(caller.domain)
        if (d == AuthContext.PublicDomain) info // zero-footprint single-tenant
        else info.copy(properties =
          info.properties + (TableInfo.DomainProp -> d))
    }
    val tp = canonical(stamped.tablePath)
    try withTx { c =>
      val ps = c.prepareStatement(
        "INSERT INTO graft_table_info (table_path, rev, info) VALUES (?,0,?)")
      try { ps.setString(1, tp); ps.setString(2, jwrite(stamped)); ps.executeUpdate() }
      finally ps.close()
      val sq = c.prepareStatement(
        "INSERT INTO graft_seq (table_path, next_seq, last_ts) VALUES (?,0,0)")
      try { sq.setString(1, tp); sq.executeUpdate() } finally sq.close()
    } catch {
      case e: SQLException if isDuplicate(e) =>
        throw new IllegalArgumentException(
          s"graft table already exists at ${info.tablePath}")
    }
    cacheDomain(tp, domainOf(stamped))
  }

  override def getTableInfo(tablePath: String): Option[TableInfo] = {
    val tp = canonical(tablePath)
    rawTableInfo(tp).filter { i =>
      val d = domainOf(i)
      cacheDomain(tp, d)
      AuthContext.canAccess(AuthContext.current, d)
    }
  }

  override def updateTableInfo(info: TableInfo): Unit = {
    val tp = canonical(info.tablePath)
    requireVisible(tp, info.tablePath)
    withTx { c =>
      val ps = c.prepareStatement(
        "UPDATE graft_table_info SET info = ?, rev = rev + 1 WHERE table_path = ?")
      try {
        ps.setString(1, jwrite(info)); ps.setString(2, tp)
        if (ps.executeUpdate() != 1)
          throw new IllegalArgumentException(s"no graft table at ${info.tablePath}")
      } finally ps.close()
    }
    cacheDomain(tp, domainOf(info))
  }

  // ----------------------------------------------------------- namespaces
  private def rawNamespaceDomain(ns: String): Option[String] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT domain FROM graft_namespace WHERE namespace = ?")
    try {
      ps.setString(1, ns)
      val rs = ps.executeQuery()
      val r = if (rs.next()) Some(rs.getString(1)) else None
      rs.close(); r
    } finally ps.close()
  }

  /** Register `namespace` under the caller's domain. Admin-only (the
    * reference's role split: ordinary users get "permission denied for
    * table namespace"); re-creating a visible namespace is idempotent,
    * a name held by ANOTHER domain raises the RLS violation. */
  def createNamespace(namespace: String): Unit = {
    val caller = AuthContext.current
    if (!caller.admin)
      throw new PermissionDeniedException(
        s"permission denied for table namespace: user '${caller.user}' is " +
          "not an admin of its domain")
    withConn { c =>
      val ps = c.prepareStatement(
        "INSERT INTO graft_namespace (namespace, domain) VALUES (?,?)")
      try { ps.setString(1, namespace); ps.setString(2, caller.domain); ps.executeUpdate(); () }
      catch {
        case e: SQLException if isDuplicate(e) =>
          if (!rawNamespaceDomain(namespace)
              .exists(AuthContext.canAccess(caller, _)))
            throw new PermissionDeniedException(
              s"new namespace violates row-level security policy: '$namespace'")
      } finally ps.close()
    }
  }

  /** The namespace's domain — None when absent OR hidden from the caller
    * (indistinguishable, like table visibility). */
  def namespaceDomain(namespace: String): Option[String] =
    rawNamespaceDomain(namespace)
      .filter(AuthContext.canAccess(AuthContext.current, _))

  /** False ONLY when the namespace is registered under a domain the caller
    * cannot access (an unregistered name is visible — the TSV name registry
    * can hold namespaces that never passed through this store). */
  def namespaceVisible(namespace: String): Boolean =
    rawNamespaceDomain(namespace)
      .forall(AuthContext.canAccess(AuthContext.current, _))

  /** Namespaces visible to the caller (own domain + public). */
  def listNamespaces(): Seq[String] = withConn { c =>
    val caller = AuthContext.current
    val ps = c.prepareStatement(
      "SELECT namespace, domain FROM graft_namespace ORDER BY namespace")
    try {
      val rs = ps.executeQuery()
      val b = Vector.newBuilder[String]
      while (rs.next())
        if (AuthContext.canAccess(caller, rs.getString(2))) b += rs.getString(1)
      rs.close(); b.result()
    } finally ps.close()
  }

  /** The authorization half of [[dropNamespace]], separated so a cascading
    * catalog drop can verify permission BEFORE touching tables, yet delete
    * the domain row LAST (a half-dropped namespace must stay protected). */
  def requireNamespaceAdmin(namespace: String): Unit = {
    val caller = AuthContext.current
    if (!caller.admin)
      throw new PermissionDeniedException(
        s"permission denied for table namespace: user '${caller.user}' is " +
          "not an admin of its domain")
    if (namespaceDomain(namespace).isEmpty)
      throw new IllegalArgumentException(s"no such namespace: $namespace")
  }

  /** Admin-only; a hidden namespace reports as absent. */
  def dropNamespace(namespace: String): Unit = {
    requireNamespaceAdmin(namespace)
    withConn { c =>
      val ps = c.prepareStatement(
        "DELETE FROM graft_namespace WHERE namespace = ?")
      try { ps.setString(1, namespace); ps.executeUpdate(); () } finally ps.close()
    }
  }

  override def updateProperties(tablePath: String)(
      f: Map[String, String] => Map[String, String]): Unit =
    updateInfo(tablePath)(t => t.copy(properties = f(t.properties)))

  /** Atomic RMW of the whole info row (rev-guarded CAS loop, same shape
    * as the property path it generalizes). */
  override def updateInfo(tablePath: String)(f: TableInfo => TableInfo): Unit = {
    val tp = canonical(tablePath)
    // same RLS gate as every other mutation: a foreign-domain table must
    // not be property-mutable (graft.domain itself lives in properties, so
    // an ungated write here would let a foreign caller seize ownership)
    requireVisible(tp, tablePath)
    var done = false
    while (!done) {
      // optimistic CAS on rev — a racing property writer costs a re-read,
      // never a lost update
      val cur = withConn { c =>
        val ps = c.prepareStatement(
          "SELECT rev, info FROM graft_table_info WHERE table_path = ?")
        try {
          ps.setString(1, tp)
          val rs = ps.executeQuery()
          require(rs.next(), s"no graft table at $tablePath")
          val r = (rs.getInt(1), jread[TableInfo](rs.getString(2)))
          rs.close(); r
        } finally ps.close()
      }
      val (rev, t) = cur
      val updated = f(t)
      done = withTx { c =>
        val ps = c.prepareStatement(
          "UPDATE graft_table_info SET info = ?, rev = ? " +
            "WHERE table_path = ? AND rev = ?")
        try {
          ps.setString(1, jwrite(updated)); ps.setInt(2, rev + 1)
          ps.setString(3, tp); ps.setInt(4, rev)
          ps.executeUpdate() == 1
        } finally ps.close()
      }
      // f may change graft.domain — keep visibility decisions fresh for
      // long-lived stores (the cache is only a hint; a stale entry here
      // would gate future ops on the OLD domain)
      if (done) cacheDomain(tp, domainOf(updated))
    }
  }

  /** Flip-timestamp variant: ONE transaction holding the table lock —
    * `allocate(c, tp, 0, info)` both yields the flip boundary and persists
    * it as `last_ts`, so every earlier commit is ≤ the previous last_ts <
    * ts0 and every later commit allocates > ts0, across processes (the
    * DB's persisted sequence is the clock). */
  override def updateInfoAtFlip(tablePath: String)(
      f: (TableInfo, Long) => TableInfo): Unit = {
    val tp = canonical(tablePath)
    requireVisible(tp, tablePath)
    withTx { c =>
      lockTable(c, tp)
      val t = rawInfoIn(c, tp).getOrElse(
        throw new IllegalArgumentException(s"no graft table at $tablePath"))
      val (_, ts0) = allocate(c, tp, 0, Some(t))
      val updated = f(t, ts0)
      val up = c.prepareStatement(
        "UPDATE graft_table_info SET info = ?, rev = rev + 1 " +
          "WHERE table_path = ?")
      try {
        up.setString(1, jwrite(updated)); up.setString(2, tp)
        up.executeUpdate()
      } finally up.close()
      cacheDomain(tp, domainOf(updated))
    }
  }

  // ---------------------------------------------------------------- commit
  /** A one-entry [[commitMany]]: one transaction, JDBC-batched. */
  override def commit(
      tablePath: String,
      commits: Seq[DataCommitInfo],
      expectedVersions: Map[String, Int],
      expectedBucketNum: Option[Int]): Unit =
    commitMany(Seq((tablePath, commits, expectedVersions)),
      expectedBucketNum.map(tablePath -> _).toMap)

  override def rebucketIfNoPartitions(
      tablePath: String, newBucketNum: Int): Boolean = {
    val tp = canonical(tablePath)
    requireVisible(tp, tablePath, fresh = true)
    withTx { c =>
      lockTable(c, tp)
      val ps = c.prepareStatement(
        "SELECT COUNT(*) FROM graft_partition_head " +
          "WHERE table_path = ? AND version >= 0")
      val live = try {
        ps.setString(1, tp)
        val rs = ps.executeQuery()
        rs.next(); val n = rs.getLong(1); rs.close(); n
      } finally ps.close()
      if (live > 0) false
      else {
        val t = rawInfoIn(c, tp).getOrElse(
          throw new IllegalArgumentException(s"no graft table at $tablePath"))
        val up = c.prepareStatement(
          "UPDATE graft_table_info SET info = ?, rev = rev + 1 " +
            "WHERE table_path = ?")
        // the mapping-change event lands in the SAME row write as the
        // flip: diff windows spanning a truncate -> re-bucket -> rewrite
        // sequence need the recorded boundary even though no files moved.
        // Boundary from the persisted sequence (exact epoch replay).
        val ts = allocate(c, tp, 0, Some(t))._2
        try {
          up.setString(1, jwrite(t.copy(bucketNum = newBucketNum,
            properties = RebucketLog.appendClosed(t.properties, ts, ts,
              t.bucketNum, newBucketNum))))
          up.setString(2, tp)
          up.executeUpdate() == 1
        } finally up.close()
      }
    }
  }

  /** MULTI-TABLE atomic commit — the capability a single arbitration
    * database enables that per-table file logs cannot: every entry's
    * commits land in ONE database transaction, so a crash or a CAS
    * conflict on ANY table rolls back ALL of them and concurrent readers
    * never observe table A updated but table B not. Tables lock in sorted
    * canonical-path order (total order -> no deadlocks between concurrent
    * multi-table writers holding overlapping table sets). */
  override def commitMany(
      entries: Seq[(String, Seq[DataCommitInfo], Map[String, Int])],
      expectedBucketNums: Map[String, Int]): Unit = {
    if (entries.isEmpty) return
    val es = entries.map { case (p, cs, ev) => (canonical(p), p, cs, ev) }
      .sortBy(_._1)
    require(es.map(_._1).distinct.size == es.size,
      "commitMany: same table twice (merge its commits into one entry)")
    es.foreach { case (tp, orig, _, _) => requireVisible(tp, orig, fresh = true) }
    withTx { c =>
      es.foreach { case (tp, _, _, _) => lockTable(c, tp) }
      es.foreach { case (tp, orig, cs, ev) =>
        // the bucket-count CAS runs per table after ALL locks are held,
        // reading the info row on the SAME connection so it serializes
        // against rebucketIfNoPartitions
        try commitLocked(c, tp, cs, ev,
          expectedBucketNums.get(orig).orElse(expectedBucketNums.get(tp)))
        catch {
          // name the losing table (by the caller's path) so the retry can
          // re-stage just that table's files instead of the whole set; a
          // one-table commit has nothing to choose and reports as the file
          // store does
          case e: MetaRerunException if e.conflictedTable.isEmpty && es.size > 1 =>
            throw new MetaRerunException(e.getMessage, Some(orig), e,
              e.bucketConflict)
        }
      }
    }
  }

  /** One table's share of [[commitMany]], under its already-held table
    * lock inside the caller's transaction: allocate, decide
    * ([[MetaStore.publish]]), write in batches. */
  private def commitLocked(c: Connection, tp: String,
      commits: Seq[DataCommitInfo], expectedVersions: Map[String, Int],
      expectedBucketNum: Option[Int]): Unit = {
    val info = rawInfoIn(c, tp)
    val lines = appendLines(c, tp, commits.map(_.partitionDesc), info) { (heads, ts) =>
      MetaStore.publish(heads, info.map(_.bucketNum), commits,
        expectedVersions, expectedBucketNum, ts)
    }
    val ins = c.prepareStatement(
      "INSERT INTO graft_commit_info (table_path, commit_id, info) VALUES (?,?,?)")
    try {
      commits.zip(lines).foreach { case (cm, pi) =>
        ins.setString(1, tp); ins.setString(2, cm.commitId)
        ins.setString(3, jwrite(cm.copy(timestamp = pi.timestamp))); ins.addBatch()
      }
      ins.executeBatch()
    } catch {
      case e: java.sql.BatchUpdateException if batchHasDuplicate(e) =>
        // commit_id collision = a concurrent writer landed our retry's ids
        throw new MetaRerunException(s"catalog contention: ${e.getMessage}")
    } finally ins.close()
  }

  private def batchHasDuplicate(e: java.sql.BatchUpdateException): Boolean = {
    var cur: SQLException = e
    while (cur != null) {
      if (isDuplicate(cur)) return true
      cur = cur.getNextException
    }
    false
  }

  // ----------------------------------------------------------------- reads
  override def listPartitionHeads(tablePath: String): Seq[PartitionInfo] =
    withConn { c =>
      val ps = c.prepareStatement(
        "SELECT l.partition_desc, l.version, l.commit_op, l.ts, l.snapshot " +
          "FROM graft_partition_head h JOIN graft_partition_log l " +
          "ON h.table_path = l.table_path AND h.seq = l.seq " +
          "WHERE h.table_path = ? AND h.version >= 0")
      try {
        ps.setString(1, canonical(tablePath))
        val rs = ps.executeQuery()
        val b = Vector.newBuilder[PartitionInfo]
        while (rs.next()) b += rowToPi(rs)
        rs.close(); b.result().sortBy(_.partitionDesc)
      } finally ps.close()
    }

  override def partitionHead(tablePath: String,
      desc: String): Option[PartitionInfo] = withConn { c =>
    readHeads(c, canonical(tablePath), Seq(desc)).get(desc)
  }

  /** One indexed range scan down graft_plog_ts — deliberately NO join
    * (the optimizer sometimes drove a head-side scan through it, turning
    * a 2-row range probe into an O(partitions) pass); liveness filters as
    * point lookups over the O(changed) result instead. */
  override def partitionsChangedBetween(
      tablePath: String, startTime: Long, endTime: Long): Seq[String] =
    withConn { c =>
      val tp = canonical(tablePath)
      val changed = {
        val ps = c.prepareStatement(
          "SELECT DISTINCT partition_desc FROM graft_partition_log " +
            "WHERE table_path = ? AND ts > ? AND ts <= ?")
        try {
          ps.setString(1, tp)
          ps.setLong(2, startTime); ps.setLong(3, endTime)
          val rs = ps.executeQuery()
          val b = Vector.newBuilder[String]
          while (rs.next()) b += rs.getString(1)
          rs.close(); b.result().sorted
        } finally ps.close()
      }
      if (changed.isEmpty) changed
      else {
        // liveness as point probes down the head PK with ONE reused
        // prepared statement on the SAME borrowed connection (the
        // partitionVersionsBulk pattern) — a per-desc partitionHead call
        // here paid a pool borrow + statement prepare each, so a new
        // stream's first micro-batch (window spanning full history)
        // degraded to O(all partitions) round trips
        val hp = c.prepareStatement(
          "SELECT version FROM graft_partition_head " +
            "WHERE table_path = ? AND partition_desc = ?")
        try {
          hp.setString(1, tp)
          changed.filter { d =>
            hp.setString(2, d)
            val rs = hp.executeQuery()
            val live = rs.next() && rs.getInt(1) >= 0
            rs.close(); live
          }
        } finally hp.close()
      }
    }

  /** One seq-ordered scan of the table's log — see the trait scaladoc
    * (history's numbering source; runs once per DESCRIBE HISTORY, not on
    * any hot path). */
  override def rawVersionLines(tablePath: String): Seq[PartitionInfo] =
    withConn { c => logRows(c, canonical(tablePath), None) }

  /** One DISTINCT scan down the (table_path, ts) index. */
  override def commitTimestamps(tablePath: String): Seq[Long] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT DISTINCT ts FROM graft_partition_log WHERE table_path = ? " +
        "ORDER BY ts")
    try {
      ps.setString(1, canonical(tablePath))
      val rs = ps.executeQuery()
      val b = Vector.newBuilder[Long]
      while (rs.next()) b += rs.getLong(1)
      rs.close(); b.result()
    } finally ps.close()
  }

  /** One indexed range scan — the tombstone analog of
    * [[partitionsChangedBetween]] (see the trait scaladoc: strict streams
    * need the drops that pass's live filter hides). */
  override def droppedBetween(tablePath: String, startTime: Long,
      endTime: Long): Seq[(String, Long)] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT DISTINCT partition_desc, ts FROM graft_partition_log " +
        "WHERE table_path = ? AND ts > ? AND ts <= ? AND version = -1")
    try {
      ps.setString(1, canonical(tablePath))
      ps.setLong(2, startTime); ps.setLong(3, endTime)
      val rs = ps.executeQuery()
      val b = Vector.newBuilder[(String, Long)]
      while (rs.next()) b += ((rs.getString(1), rs.getLong(2)))
      rs.close(); b.result().sortBy(_._2)
    } finally ps.close()
  }

  /** One MAX down the (table_path, ts) index — no head join, no snapshot
    * CLOB transfer, no per-partition JSON parse. The streaming source
    * calls this per trigger; at 100k+ partitions a full-head
    * materialization per poll is the driver bottleneck
    * (tools/StreamWidthProbe: 403 ms head-join vs ~1 ms index MAX). */
  override def maxCommitTs(tablePath: String): Long = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT MAX(ts) FROM graft_partition_log WHERE table_path = ?")
    try {
      ps.setString(1, canonical(tablePath))
      val rs = ps.executeQuery()
      val out = if (rs.next()) rs.getLong(1) else 0L
      rs.close(); out
    } finally ps.close()
  }

  override def partitionVersions(tablePath: String,
      desc: String): Seq[PartitionInfo] = withConn { c =>
    MetaStore.lineage(logRows(c, canonical(tablePath), Some(desc)))
  }

  /** ONE connection + ONE reused PreparedStatement, point-probed per desc
    * down graft_plog_desc. Measured on Derby: point probes cost ~0.03 ms
    * while >=100-param IN-lists fall off the index to ~58 ms scans per
    * chunk — the opposite of intuition; the win over the default
    * implementation is dropping the per-call connection/prepare overhead,
    * not the query count. (A PostgreSQL deployment would use one
    * `partition_desc = ANY(?)` array probe instead.) */
  override def partitionVersionsBulk(tablePath: String,
      descs: Seq[String]): Map[String, Seq[PartitionInfo]] = withConn { c =>
    val tp = canonical(tablePath)
    val ps = c.prepareStatement(
      "SELECT partition_desc, version, commit_op, ts, snapshot " +
        "FROM graft_partition_log WHERE table_path = ? " +
        "AND partition_desc = ? ORDER BY seq")
    try {
      ps.setString(1, tp)
      descs.iterator.map { d =>
        ps.setString(2, d)
        val rs = ps.executeQuery()
        val b = Vector.newBuilder[PartitionInfo]
        while (rs.next()) b += rowToPi(rs)
        rs.close()
        d -> MetaStore.lineage(b.result())
      }.toMap
    } finally ps.close()
  }

  private val commitCache = new ConcurrentHashMap[String, DataCommitInfo]()

  override def getCommits(tablePath: String,
      ids: Seq[String]): Map[String, DataCommitInfo] = {
    if (commitCache.size() > 131072) commitCache.clear()
    val tp = canonical(tablePath)
    val missing = ids.filterNot(id => commitCache.containsKey(tp + "\u0000" + id))
    if (missing.nonEmpty) withConn { c =>
      // reused-statement PK point probes: on Derby a multi-param IN-list
      // falls off the index to a table scan per chunk (~58 ms vs ~0.03 ms
      // a probe), which turned whole-table snapshot resolution quadratic
      // once filesAtMany batched all commit ids through here
      val ps = c.prepareStatement(
        "SELECT info FROM graft_commit_info " +
          "WHERE table_path = ? AND commit_id = ?")
      try {
        ps.setString(1, tp)
        missing.foreach { id =>
          ps.setString(2, id)
          val rs = ps.executeQuery()
          if (rs.next())
            commitCache.put(tp + "\u0000" + id,
              jread[DataCommitInfo](rs.getString(1)))
          rs.close()
        }
      } finally ps.close()
    }
    ids.map { id =>
      val v = commitCache.get(tp + "\u0000" + id)
      require(v != null, s"missing commit $id for $tablePath")
      id -> v
    }.toMap
  }

  // ------------------------------------------------------------- mutations
  override def rollbackPartition(tablePath: String, desc: String,
      toVersion: Int): Unit = {
    val tp = canonical(tablePath)
    requireVisible(tp, tablePath)
    withTx { c =>
      lockTable(c, tp)
      val target = MetaStore.lineage(logRows(c, tp, Some(desc)))
        .find(_.version == toVersion)
        .getOrElse(throw new IllegalArgumentException(
          s"no version $toVersion for partition '$desc'"))
      appendLines(c, tp, Seq(desc), rawInfoIn(c, tp))((_, ts) =>
        Seq(target.copy(timestamp = ts)))
    }
  }

  override def restoreTable(tablePath: String, asOfTs: Long,
      infoUpdate: Option[TableInfo => TableInfo] = None): Seq[PartitionInfo] = {
    val tp = canonical(tablePath)
    requireVisible(tp, tablePath)
    withTx { c =>
      lockTable(c, tp)
      val appends = MetaStore.restoreAppends(logRows(c, tp, None), asOfTs)
      val info = rawInfoIn(c, tp)
      val out = appendLines(c, tp, appends.map(_.partitionDesc), info)((_, ts) =>
        appends.map(_.copy(timestamp = ts)))
      // info flip in the SAME transaction as the repointing (trait
      // scaladoc): the table lock is held, so the plain rev bump cannot
      // race another writer
      infoUpdate.foreach { f =>
        val t = info.getOrElse(
          throw new IllegalArgumentException(s"no graft table at $tablePath"))
        val up = c.prepareStatement(
          "UPDATE graft_table_info SET info = ?, rev = rev + 1 " +
            "WHERE table_path = ?")
        try {
          up.setString(1, jwrite(f(t))); up.setString(2, tp)
          up.executeUpdate()
        } finally up.close()
      }
      out
    }
  }

  override def dropPartition(tablePath: String, desc: String): Unit =
    dropPartitions(tablePath, Seq(desc))

  /** ONE transaction + ONE shared ts for the whole sweep (crash-atomic,
    * O(1) commits instead of O(descs)). */
  override def dropPartitions(tablePath: String, descs: Seq[String]): Unit = {
    if (descs.isEmpty) return
    val tp = canonical(tablePath)
    requireVisible(tp, tablePath)
    withTx { c =>
      lockTable(c, tp)
      appendLines(c, tp, descs, rawInfoIn(c, tp))((_, ts) =>
        descs.map(PartitionInfo(_, -1, Nil, CommitOp.Update, ts)))
    }
  }

  override def dropTable(tablePath: String): Unit = {
    val tp = canonical(tablePath)
    requireVisible(tp, tablePath)
    withTx { c =>
      Seq("graft_partition_log", "graft_partition_head", "graft_commit_info",
        "graft_stream_batch", "graft_table_info", "graft_seq").foreach { t =>
        val ps = c.prepareStatement(s"DELETE FROM $t WHERE table_path = ?")
        try { ps.setString(1, tp); ps.executeUpdate() } finally ps.close()
      }
    }
    commitCache.keySet().removeIf(_.startsWith(tp + "\u0000"))
    domainCache.remove(tp) // a later re-create may land in another domain
  }

  // ------------------------------------------------------------- streaming
  override def getMaxBatchId(tablePath: String, queryId: String): Long = {
    requireVisible(canonical(tablePath), tablePath)
    withConn { c =>
      val ps = c.prepareStatement(
        "SELECT max_batch FROM graft_stream_batch " +
          "WHERE table_path = ? AND query_id = ?")
      try {
        ps.setString(1, canonical(tablePath)); ps.setString(2, queryId)
        val rs = ps.executeQuery()
        val r = if (rs.next()) rs.getLong(1) else -1L
        rs.close(); r
      } finally ps.close()
    }
  }

  override def recordBatchId(tablePath: String, queryId: String,
      batchId: Long): Unit = {
    val tp = canonical(tablePath)
    requireVisible(tp, tablePath)
    try withTx { c =>
      val up = c.prepareStatement(
        "UPDATE graft_stream_batch SET max_batch = ? " +
          "WHERE table_path = ? AND query_id = ? AND max_batch < ?")
      val touched = try {
        up.setLong(1, batchId); up.setString(2, tp)
        up.setString(3, queryId); up.setLong(4, batchId)
        up.executeUpdate()
      } finally up.close()
      if (touched == 0 && getMaxBatchIdTx(c, tp, queryId).isEmpty) {
        val ins = c.prepareStatement(
          "INSERT INTO graft_stream_batch (table_path, query_id, max_batch) " +
            "VALUES (?,?,?)")
        try { ins.setString(1, tp); ins.setString(2, queryId)
          ins.setLong(3, batchId); ins.executeUpdate() }
        finally ins.close()
      }
    } catch {
      case e: SQLException if isDuplicate(e) => recordBatchId(tablePath, queryId, batchId)
    }
  }

  private def getMaxBatchIdTx(c: Connection, tp: String,
      queryId: String): Option[Long] = {
    val ps = c.prepareStatement(
      "SELECT max_batch FROM graft_stream_batch " +
        "WHERE table_path = ? AND query_id = ?")
    try {
      ps.setString(1, tp); ps.setString(2, queryId)
      val rs = ps.executeQuery()
      val r = if (rs.next()) Some(rs.getLong(1)) else None
      rs.close(); r
    } finally ps.close()
  }

  // -------------------------------------------------------------- retention
  override def retainedVersions(tablePath: String,
      retainAfterTs: Long): Seq[PartitionInfo] = withConn { c =>
    val all = logRows(c, canonical(tablePath), None)
    all.indices.filter(MetaStore.retainIndices(all, retainAfterTs)).map(all)
  }

  override def compactVersionLog(tablePath: String,
      retainAfterTs: Long): Long = {
    val tp = canonical(tablePath)
    withTx { c =>
      lockTable(c, tp)
      // re-read seqs + lines under the lock so the keep decision and the
      // deletes see the same log
      val ps = c.prepareStatement(
        "SELECT seq, partition_desc, version, commit_op, ts, snapshot " +
          "FROM graft_partition_log WHERE table_path = ? ORDER BY seq")
      val (seqs, all) = try {
        ps.setString(1, tp)
        val rs = ps.executeQuery()
        val sb = Vector.newBuilder[Long]; val pb = Vector.newBuilder[PartitionInfo]
        while (rs.next()) { sb += rs.getLong("seq"); pb += rowToPi(rs) }
        rs.close(); (sb.result(), pb.result())
      } finally ps.close()
      val keep = MetaStore.retainIndices(all, retainAfterTs)
      val dropSeqs = seqs.indices.filterNot(keep).map(seqs)
      dropSeqs.grouped(500).foreach { chunk =>
        val marks = chunk.map(_ => "?").mkString(",")
        val del = c.prepareStatement(
          s"DELETE FROM graft_partition_log WHERE table_path = ? AND seq IN ($marks)")
        try {
          del.setString(1, tp)
          chunk.zipWithIndex.foreach { case (s, i) => del.setLong(i + 2, s) }
          del.executeUpdate()
        } finally del.close()
      }
      dropSeqs.size.toLong
    }
  }

  override def invalidateCache(tablePath: String): Unit = {
    val tp = canonical(tablePath)
    commitCache.keySet().removeIf(_.startsWith(tp + "\u0000"))
    domainCache.remove(tp)
  }
}
