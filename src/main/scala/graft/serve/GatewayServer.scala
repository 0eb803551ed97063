package graft.serve

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.iceberg.{CommitConflict, IcebergCommitter, TableIO}
import graft.table.{Compaction, EventTable, Maintenance}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.Semaphore
import scala.jdk.CollectionConverters._

/** The HTTP gateway: the reference's full API surface (SURVEY §2.7 /
  * `/root/reference/src/api/mod.rs:19-70`) over the Spark-native engine.
  *
  *  - S1/S2: single + bulk writes (JSON or protobuf) into the [[HotBuffer]]
  *    with sequence assignment and idempotency dedup; 202 responses with
  *    offsets (`handlers.rs:467-707`)
  *  - S4: backpressure — a permit semaphore plus an in-flight byte budget
  *    admitted on RAW body size before parsing; 503 SERVER_OVERLOADED on
  *    overload (`handlers.rs:64-111,187-232`)
  *  - Q1–Q6: operational reads with projection validation, since-filter,
  *    limit+has_more, and JSON/Arrow content negotiation
  *  - F2–F7 via [[flushNow]]: hot events → sorted size-targeted write on
  *    driver threads → footer stats → Iceberg append commit → hot cleanup
  *    (F11) — the flusher pipeline triggered by POST /tables/{t}/flush (F12)
  *  - C1–C3 via POST /tables/{t}/compact with the in-progress guard (409)
  *  - X1: health/ready/stats/metrics/metadata/watermark admin routes
  *  - X2: the read-only Iceberg REST catalog (`src/api/catalog.rs:193-366`)
  *  - F13: optional auto-registration against an external REST catalog
  *    after each commit ([[CatalogClient]])
  *
  * Spark is involved ONLY in flush (planning the batch's projections,
  * which fold into driver rows) and compact (distributed jobs); the hot
  * path is pure JVM, like the reference's axum front-end.
  */
final class GatewayServer(
    spark: SparkSession,
    baseDir: String,
    port: Int = 0,
    namespace: String = "zombi",
    maxInflight: Int = 10000,
    maxInflightBytes: Long = 64L * 1024 * 1024,
    retentionMs: Long = 0L,
    catalog: Option[CatalogClient] = None,
    walEnabled: Boolean = true,
    maxFlushBytes: Long = 256L * 1024 * 1024,
    minGcHorizonMs: Long = 10L * 60 * 1000
) {
  /** Catalog namespace levels, parsed with the reference's config rules
    * (`/root/reference/src/api/catalog.rs:92-114`): a raw value containing
    * the `` unit separator splits on it; otherwise it splits on `.`;
    * empty → the single default level. So `namespace = "accounting.tax"`
    * serves the two-level namespace `["accounting","tax"]`. */
  private val nsLevels: Seq[String] = GatewayServer.parseNamespaceConfig(namespace)
  private def nsJson: String = nsLevels.map(l => s""""${escape(l)}"""").mkString("[", ",", "]")
  private def nsDotted: String = nsLevels.mkString(".")
  private val mapper  = new ObjectMapper()
  // INV-2: accepted-but-unflushed events survive a gateway crash via the
  // write-ahead log (the reference gets this from RocksDB's WAL).
  private val wal = if (walEnabled) Some(new WriteAheadLog(Paths.get(baseDir, "_wal"))) else None
  val hot = new HotBuffer(wal)
  val metrics         = new Metrics
  private val permits = new Semaphore(maxInflight)
  private val inflightBytes = new AtomicLong(0)
  private val compacting    = new ConcurrentHashMap[String, AtomicBoolean]()
  private val committers    = new ConcurrentHashMap[String, IcebergCommitter]()
  // flush and compact RACE on the same table dir (both rewrite data files /
  // commit snapshots); serialize them per table
  private val tableLocks = new ConcurrentHashMap[String, Object]()
  private def tableLock(t: String): Object = tableLocks.computeIfAbsent(t, _ => new Object)

  metrics.gauge("zombi_hot_events")(hot.topics.map(hot.size).sum.toDouble)
  metrics.gauge("zombi_wal_segments")(wal.fold(0)(_.segments).toDouble)
  metrics.gauge("zombi_wal_bytes")(wal.fold(0L)(_.bytes).toDouble)
  // per-(topic,partition) hot storage events, read live at render time
  metrics.labelledGauge("zombi_hot_storage_events") {
    hot.topics.flatMap { t =>
      hot.partitionSizes(t).toSeq.map { case (p, n) =>
        (s"""topic="${graft.core.JsonUtil.escape(t)}",partition="$p"""", n.toDouble)
      }
    }
  }
  // consumer-lag analogue: unflushed events across topics (hwm − committed)
  metrics.gauge("zombi_flush_lag") {
    hot.topics.map { t =>
      val committed = Option(committers.get(t)).map(_.summaryWatermarks()).getOrElse(Map.empty[Int, Long])
      hot.highWatermarks(t).map { case (p, h) => math.max(0L, h - committed.getOrElse(p, 0L)) }.sum
    }.sum.toDouble
  }

  private val TableName = "^[a-zA-Z][a-zA-Z0-9_-]{0,127}$".r

  /** Always goes through [[validated]] first — the table name doubles as a
    * path segment, so validation is also the traversal guard. No directory
    * is created here: reads of unknown tables must not pollute the
    * warehouse (LocalTableIO creates parents lazily on first write). */
  private def committer(topic: String): IcebergCommitter = {
    validated(topic)
    committers.computeIfAbsent(topic, t => {
      val io = TableIO.forRoot(Paths.get(baseDir, t).toString)
      // §1.3: a topic with an extraction config must DECLARE the
      // extracted columns in its Iceberg schema from the very first
      // commit — readers (ours and external engines) drive reads off
      // metadata, not parquet footers, so committing typed columns
      // without declaring them would make them invisible.
      val cfgSchema = schemaConfigFrom(io)
        .map(cfg => graft.iceberg.IcebergSchema.withExtraction(cfg.fields.map(f => f.name -> f.dataType)))
      val c = new IcebergCommitter(io, t, cfgSchema.getOrElse(graft.iceberg.IcebergSchema.default))
      // HEAL on first access (read or write): a table committed by a
      // build that predates declared extraction — or whose config
      // appeared without a flush since — gets its metadata evolved here,
      // so a read-only workload is not stuck with invisible columns. An
      // incompatible config must not brick reads: log and continue under
      // the declared schema; the flush path re-raises with remediation.
      if (cfgSchema.isDefined)
        try ensureExtractionDeclared(c)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[gateway] $t: ${e.getMessage}")
        }
      hot.seed(t, c.maxCommittedSequencePerPartition()) // F9 reconciliation
      c
    })
  }

  /** Evolve an EXISTING table's metadata to declare its configured
    * extraction (additive; no-op when already declared; keeps the payload
    * field when the declared past has one). Throws an actionable error on
    * a non-additive config edit — the caller decides whether that brick's
    * its path (flush: yes, files must not diverge from metadata) or is
    * logged (read: no). */
  private def ensureExtractionDeclared(c: IcebergCommitter): Unit =
    schemaConfigFrom(c.io).foreach { cfg =>
      if (c.currentVersion() > 0) {
        val cur  = c.currentSchema()
        val keep = cur.exists(_.fields.exists(_.id == graft.iceberg.FieldIds.Payload))
        try c.evolveSchema(graft.iceberg.IcebergSchema.withExtraction(
          cfg.fields.map(f => f.name -> f.dataType), keepPayload = keep))
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalStateException(
              s"table_schema.json for '${c.topic}' is incompatible with the declared schema " +
                s"(${e.getMessage}): revert the config change or create a new table", e)
        }
      }
    }

  // ---------------------------------------------------------------- server

  // TCP_NODELAY on response sockets: without it, the header/body write pair
  // interacts with delayed ACKs into a ~40 ms floor per request — measured
  // p50 44 ms from the load harness vs 0.4 ms with the flag. CAVEAT: the
  // property is latched ONCE by sun.net.httpserver.ServerConfig's static
  // initializer, i.e. when the first HttpServer in the JVM is created — an
  // embedding process that built another HttpServer earlier keeps the slow
  // default (GatewaySpec's soak throughput floor catches that regression
  // for our own entry points, which all construct GatewayServer first).
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool   = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handleSafely(ex))

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def handleSafely(ex: HttpExchange): Unit =
    try handle(ex)
    catch {
      case ApiError(status, code, msg)      => sendError(ex, status, code, msg)
      case ArrowOutput.UnknownColumn(name)  => sendError(ex, 400, "INVALID_INPUT", s"unknown column: $name")
      // malformed protobuf is CLIENT input, not a server fault — the
      // reference's handlers return 400 for undecodable proto bodies
      case ProtoCodec.ProtoError(msg)       => sendError(ex, 400, "INVALID_INPUT", s"malformed protobuf: $msg")
      case e: Exception                     => sendError(ex, 500, "INTERNAL", String.valueOf(e.getMessage))
    } finally ex.close()

  private final case class ApiError(status: Int, code: String, msg: String) extends RuntimeException(msg)

  private def handle(ex: HttpExchange): Unit = {
    val path   = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    val t0     = System.nanoTime()
    (method, path.split("/").filter(_.nonEmpty).toList) match {
      case ("GET", List("health"))           => sendJson(ex, 200, """{"status":"ok"}""")
      case ("GET", List("health", "live"))   => sendJson(ex, 200, """{"status":"live"}""")
      case ("GET", List("health", "ready")) =>
        // reference parity: readiness = backpressure headroom AND a live
        // storage probe (`handlers.rs:1450-1523`)
        val storageOk =
          try { Files.createDirectories(Paths.get(baseDir)); Files.isWritable(Paths.get(baseDir)) }
          catch { case _: Exception => false }
        val ready = permits.availablePermits() > 0 && storageOk
        sendJson(ex, if (ready) 200 else 503,
          s"""{"status":"${if (ready) "ready" else "not_ready"}","storage":$storageOk,"backpressure":${permits.availablePermits() > 0}}""")
      case ("GET", List("stats"))   => sendJson(ex, 200, statsJson())
      case ("GET", List("metrics")) => send(ex, 200, "text/plain; version=0.0.4", metrics.render().getBytes("UTF-8"))

      // ---- Iceberg REST catalog (X2, read-only) ----
      // Multi-level namespaces: the URL path segment separates levels with
      // the %1F unit separator ONLY (the `namespace-separator` override
      // advertised in /v1/config, `/root/reference/src/api/catalog.rs:84-90,
      // 212`); dots inside a path segment are literal characters.
      case ("GET", List("v1", "config")) =>
        val endpoints = Seq(
          "GET /v1/config", "GET /v1/namespaces", "GET /v1/namespaces/{namespace}",
          "GET /v1/namespaces/{namespace}/tables",
          "GET /v1/namespaces/{namespace}/tables/{table}",
          "HEAD /v1/namespaces/{namespace}/tables/{table}"
        ).map(e => s""""$e"""").mkString("[", ",", "]")
        sendJson(ex, 200,
          s"""{"defaults":{},"overrides":{"warehouse":"${escape(baseDir)}","namespace-separator":"%1F"},"endpoints":$endpoints}""")
      case ("GET", List("v1", "namespaces")) =>
        // ?parent= walks one level of the (single) namespace chain:
        // no parent → the top level; a proper prefix → its next level; the
        // full namespace → empty; anything else → 404 (catalog.rs:166-190)
        val parent = query(ex).get("parent").filter(_.nonEmpty)
        val listed = parent match {
          case None => Seq(nsLevels.take(1))
          case Some(raw) =>
            val parts = GatewayServer.parseNamespacePath(raw)
            if (parts.isEmpty) Seq(nsLevels.take(1))
            else if (parts.size > nsLevels.size || nsLevels.take(parts.size) != parts) {
              catalogError(ex, 404, "NoSuchNamespaceException", s"Namespace does not exist: $raw")
              return
            } else if (parts.size == nsLevels.size) Nil
            else Seq(nsLevels.take(parts.size + 1))
        }
        val body = listed.map(_.map(l => s""""${escape(l)}"""").mkString("[", ",", "]")).mkString(",")
        sendJson(ex, 200, s"""{"namespaces":[$body]}""")
      case ("GET", List("v1", "namespaces", ns)) =>
        if (!namespaceMatches(ns)) catalogError(ex, 404, "NoSuchNamespaceException", s"Namespace does not exist: $ns")
        else sendJson(ex, 200, s"""{"namespace":$nsJson,"properties":{}}""")
      case ("GET", List("v1", "namespaces", ns, "tables")) =>
        if (!namespaceMatches(ns)) catalogError(ex, 404, "NoSuchNamespaceException", s"Namespace does not exist: $ns")
        else {
          val ids = committedTopics()
            .map(t => s"""{"namespace":$nsJson,"name":"${escape(t)}"}""")
            .mkString(",")
          sendJson(ex, 200, s"""{"identifiers":[$ids]}""")
        }
      case (m, List("v1", "namespaces", ns, "tables", t)) if m == "GET" || m == "HEAD" =>
        if (!namespaceMatches(ns)) catalogError(ex, 404, "NoSuchNamespaceException", s"Namespace does not exist: $ns")
        else if (!TableName.matches(t))
          catalogError(ex, 404, "NoSuchTableException", s"Table does not exist: $nsDotted.$t")
        else {
          val c = committer(t)
          val v = c.currentVersion()
          if (v == 0) catalogError(ex, 404, "NoSuchTableException", s"Table does not exist: $nsDotted.$t")
          else if (m == "HEAD") send(ex, 204, "application/json", Array.emptyByteArray)
          else {
            val loc  = s"$baseDir/$t/${c.versionFile(v)}"
            val meta = new String(c.io.get(c.versionFile(v)), "UTF-8")
            sendJson(ex, 200, s"""{"metadata-location":"${escape(loc)}","metadata":$meta}""")
          }
        }

      // ---- table routes (X1 + S1/S2 + reads) ----
      case ("POST", List("tables", t))            => validated(t); writeOne(ex, t, t0)
      case ("POST", List("tables", t, "bulk"))    => validated(t); writeBulk(ex, t, t0)
      case ("GET", List("tables", t))             => validated(t); read(ex, t)
      case ("GET", List("tables", t, "metadata")) =>
        validated(t)
        val c = committer(t)
        val v = c.currentVersion()
        if (v == 0) throw ApiError(404, "TOPIC_NOT_FOUND", s"no committed table $t")
        sendJson(ex, 200, new String(c.io.get(c.versionFile(v)), "UTF-8"))
      case ("GET", List("tables", t, "watermark")) =>
        validated(t)
        val committed = committer(t).summaryWatermarks()
        val hwm       = hot.highWatermarks(t)
        val parts = (committed.keySet ++ hwm.keySet).toSeq.sorted.map { p =>
          s"""{"partition":$p,"flush_watermark":${committed.getOrElse(p, 0L)},"high_watermark":${hwm.getOrElse(p, 0L)}}"""
        }
        sendJson(ex, 200, s"""{"table":"${escape(t)}","partitions":[${parts.mkString(",")}]}""")
      case ("POST", List("tables", t, "flush")) =>
        validated(t)
        val snap = flushNow(t)
        sendJson(ex, 200, s"""{"table":"${escape(t)}","snapshot_id":${snap.map(_.toString).getOrElse("null")}}""")
      case ("POST", List("tables", t, "expire")) =>
        validated(t)
        val keep = query(ex).get("keep").flatMap(_.toIntOption).getOrElse(1)
        val expired = committer(t).expireSnapshots(keep)
        sendJson(ex, 200, s"""{"table":"${escape(t)}","expired":[${expired.mkString(",")}]}""")
      // scheduled-maintenance orphan GC (crash leftovers in data/) — see
      // OrphanGc for why this is an admin call, not
      // an inline compaction step
      case ("POST", List("tables", t, "gc")) =>
        validated(t)
        val requested = query(ex).get("older_than_ms").flatMap(_.toLongOption)
          .getOrElse(24L * 60 * 60 * 1000)
        // Server-side floor on the horizon: data files land BEFORE the
        // staged-batch marker (and bulk flushes carry no marker at all), so
        // a tiny/zero horizon racing an in-flight write would GC files the
        // imminent commit references. Unclamped horizons are reachable only
        // through direct OrphanGc.remove calls (tests).
        val horizon = math.max(requested, minGcHorizonMs)
        // the DISTRIBUTED sweep (OrphanGc): listing and manifest parsing run
        // as a Spark job, so an admin gc on an 800k-file table doesn't pin
        // the gateway's driver thread walking the store
        val removed = tableLock(t).synchronized {
          committer(t) // ensures validation + watermark seeding
          graft.iceberg.OrphanGc.remove(spark, Paths.get(baseDir, t).toString, horizon)
        }
        sendJson(ex, 200, s"""{"table":"${escape(t)}","removed":${removed.size},"older_than_ms":$horizon}""")
      case ("POST", List("tables", t, "compact")) =>
        validated(t)
        val guard = compacting.computeIfAbsent(t, _ => new AtomicBoolean(false))
        if (!guard.compareAndSet(false, true))
          throw ApiError(409, "COMPACTION_IN_PROGRESS", s"compaction already running for $t")
        try {
          // same per-table lock as flushNow: flush and compact both rewrite
          // the table dir and must not interleave
          val res =
            try tableLock(t).synchronized { Compaction.compact(spark, s"$baseDir/$t") }
            catch { case _: CommitConflict => throw ApiError(409, "COMPACTION_CONFLICT", "table advanced during compaction") }
          metrics.inc("zombi_compactions_total")
          sendJson(ex, 200, s"""{"table":"${escape(t)}","compacted":${res.isDefined}}""")
        } finally guard.set(false)

      // the nightly maintenance composite (Maintenance.vacuum): compact
      // until dry (folding MoR deletes), coalesce manifests, expire
      // snapshots, orphan-GC — one admin call that keeps a per-trigger-
      // committing table's metadata bounded. Same exclusivity as compact
      // (it IS a compaction plus metadata rewrites).
      case ("POST", List("tables", t, "vacuum")) =>
        validated(t)
        val guard = compacting.computeIfAbsent(t, _ => new AtomicBoolean(false))
        if (!guard.compareAndSet(false, true))
          throw ApiError(409, "COMPACTION_IN_PROGRESS", s"compaction already running for $t")
        try {
          val q    = query(ex)
          val keep = q.get("keep").flatMap(_.toIntOption).getOrElse(2)
          // two DISTINCT horizons, named apart on purpose: the Iceberg
          // expire_snapshots(older_than) retention knob vs the orphan-GC
          // in-flight-write floor — a shared older_than_ms would silently
          // change the wrong one. The expire knob comes in two spellings:
          //  - expire_older_than_ms: ABSOLUTE epoch cutoff. An age passed
          //    here (e.g. 604800000 for 7 days ≈ epoch 1970) would make
          //    every snapshot "newer" and silently retain all history —
          //    rejected as a 400 (no table predates epoch 1e12).
          //  - expire_max_age_ms: relative AGE, converted to now - age
          //    server-side (the operator-friendly spelling).
          val expireOlder = (q.get("expire_older_than_ms").flatMap(_.toLongOption),
                             q.get("expire_max_age_ms").flatMap(_.toLongOption)) match {
            case (Some(_), Some(_)) =>
              // never pick one silently — the two spellings disagree on
              // what the number MEANS, so a combined request is ambiguous
              throw ApiError(400, "INVALID_INPUT",
                "pass expire_older_than_ms OR expire_max_age_ms, not both")
            case (Some(abs), _) if abs < 1_000_000_000_000L =>
              throw ApiError(400, "INVALID_INPUT",
                s"expire_older_than_ms=$abs is not an epoch timestamp (looks like an age) — " +
                  "pass expire_max_age_ms for a relative age")
            case (Some(abs), _) => abs
            case (None, Some(a)) =>
              val cut = System.currentTimeMillis() - math.max(0L, a)
              // an age reaching past ~2001 would fail expireSnapshots'
              // epoch guard as a 500 — surface it as client input instead
              if (cut < 1_000_000_000_000L)
                throw ApiError(400, "INVALID_INPUT",
                  s"expire_max_age_ms=$a reaches before the epoch-guard floor; use a smaller age")
              cut
            case (None, None) => Long.MaxValue
          }
          val horizon = math.max(
            q.get("gc_horizon_ms").flatMap(_.toLongOption).getOrElse(24L * 60 * 60 * 1000),
            minGcHorizonMs) // same in-flight-write floor as /gc
          val r =
            // the flush lock is taken PER STEP inside vacuum, so ingestion
            // flushes interleave between compaction passes instead of
            // stalling for the whole composite
            try Maintenance.vacuum(spark, s"$baseDir/$t",
              keepSnapshots = keep, keepNewerThanTsMs = expireOlder,
              gcHorizonMs = horizon, stepLock = tableLock(t))
            catch { case _: CommitConflict => throw ApiError(409, "COMPACTION_CONFLICT", "table advanced during vacuum") }
          metrics.inc("zombi_vacuums_total")
          sendJson(ex, 200,
            s"""{"table":"${escape(t)}","staging_swept":${r.stagingSwept},""" +
              s""""compactions":${r.compactions},"manifests_coalesced":${r.manifestsCoalesced},""" +
              s""""expired_snapshots":${r.expiredSnapshots},"orphans_removed":${r.orphansRemoved},""" +
              s""""compaction_truncated":${r.compactionTruncated}}""")
        } finally guard.set(false)

      // named tags: the retention-protection surface an operator drives
      // next to /expire and /vacuum — tag a snapshot to pin it readable
      // (expire retains it; compaction's eager delete skips its files),
      // drop the tag to release it. Committer refusals (derived/duplicate/
      // unknown names, unknown snapshots) are CLIENT input → 400. The
      // default (no ?snapshot=) form pins the head OBSERVED AT REQUEST
      // TIME: a commit racing the request tags that observed head, not
      // the newer one — callers that need a specific snapshot name it.
      case ("POST", List("tables", t, "tag")) =>
        validated(t)
        val q    = query(ex)
        val name = q.getOrElse("name", throw ApiError(400, "INVALID_INPUT", "tag requires ?name="))
        // a PRESENT but unparseable snapshot id must refuse — falling back
        // to the current head would 200 while pinning the WRONG snapshot
        val snap = q.get("snapshot") match {
          case Some(v) => v.trim.toLongOption.getOrElse(
            throw ApiError(400, "INVALID_INPUT", s"snapshot '$v' is not a snapshot id"))
          case None => committer(t).load().flatMap(_.currentSnapshotId)
            .getOrElse(throw ApiError(400, "INVALID_INPUT", "no snapshot to tag (empty table)"))
        }
        try committer(t).createTag(name, snap)
        catch {
          case e: IllegalArgumentException => throw ApiError(400, "INVALID_INPUT", e.getMessage)
          // a writer racing the tag CAS is contention, not client error —
          // same contract as /compact and /vacuum
          case _: CommitConflict => throw ApiError(409, "TAG_CONFLICT", "table advanced during tag; retry")
        }
        sendJson(ex, 200, s"""{"table":"${escape(t)}","tag":"${escape(name)}","snapshot_id":$snap}""")
      case ("DELETE", List("tables", t, "tag")) =>
        validated(t)
        val name = query(ex).getOrElse("name",
          throw ApiError(400, "INVALID_INPUT", "tag requires ?name="))
        try committer(t).dropTag(name)
        catch {
          case e: IllegalArgumentException => throw ApiError(400, "INVALID_INPUT", e.getMessage)
          case _: CommitConflict => throw ApiError(409, "TAG_CONFLICT", "table advanced during tag drop; retry")
        }
        sendJson(ex, 200, s"""{"table":"${escape(t)}","dropped":"${escape(name)}"}""")

      // ---- deprecated consumer-offset surface (Q9 API parity,
      // `/root/reference/src/api/handlers.rs:1144-1188`) ----
      case ("POST", List("consumers", g, "commit")) =>
        validated(g) // group doubles as a path segment, same traversal guard
        admitted(ex) { body =>
          val n = parseJson(body)
          val topic = Option(n.get("topic")).map(_.asText)
            .getOrElse(throw ApiError(400, "INVALID_INPUT", "topic is required"))
          validated(topic)
          val partition = Option(n.get("partition")).map(_.asInt).getOrElse(0)
          val offset    = Option(n.get("offset")).map(_.asLong)
            .getOrElse(throw ApiError(400, "INVALID_INPUT", "offset is required"))
          // durable like the reference's RocksDB `consumer:` key: one
          // atomic file per (group, partition) under the table root
          committer(topic).io.put(s"consumers/$g/$partition.offset", offset.toString.getBytes("UTF-8"))
          sendJson(ex, 200,
            s"""{"group":"${escape(g)}","topic":"${escape(topic)}","partition":$partition,"offset":$offset}""")
        }
      case ("GET", List("consumers", g, "offset")) =>
        validated(g)
        val q = query(ex)
        val topic = q.getOrElse("topic", throw ApiError(400, "INVALID_INPUT", "topic is required"))
        validated(topic)
        val partition = q.get("partition").flatMap(_.toIntOption).getOrElse(0)
        val io = committer(topic).io
        val offset =
          if (io.exists(s"consumers/$g/$partition.offset"))
            new String(io.get(s"consumers/$g/$partition.offset"), "UTF-8").trim.toLongOption
          else None
        sendJson(ex, 200,
          s"""{"group":"${escape(g)}","topic":"${escape(topic)}","partition":$partition,"offset":${offset.map(_.toString).getOrElse("null")}}""")

      case _ => throw ApiError(404, "NOT_FOUND", s"$method $path")
    }
  }

  /** `Regex.matches` anchors the WHOLE string — `findFirstIn` with `^...$`
    * would accept a trailing newline (Java `$` matches before a final line
    * terminator), letting a percent-encoded "events%0A" shadow a real
    * table dir. */
  private def validated(t: String): Unit =
    if (!TableName.matches(t))
      throw ApiError(400, "INVALID_INPUT", "Invalid table name: must match ^[a-zA-Z][a-zA-Z0-9_-]{0,127}$")

  /** Query params: split the RAW query on `&`/`=` FIRST, then
    * percent-decode each part — decoding before splitting would let an
    * encoded `%26`/`%3D` inside a value (e.g. a namespace level containing
    * `&`) masquerade as a separator. A `%1F` in `?parent=` decodes to the
    * raw unit separator. */
  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        // percent-decoding only — URI queries don't form-encode, so '+'
        // stays literal (URLDecoder alone would turn it into a space)
        def dec(s: String) =
          try java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
          catch { case _: IllegalArgumentException => s }
        dec(k) -> dec(v)
      }.toMap

  /** A URL namespace segment names OUR namespace iff its unit-separated
    * levels equal the configured levels exactly (catalog.rs:157-164). */
  private def namespaceMatches(raw: String): Boolean =
    GatewayServer.parseNamespacePath(raw) == nsLevels

  // ---------------------------------------------------------------- writes

  /** S4: admit on the DECLARED body size (Content-Length) BEFORE buffering a
    * single byte, then read the body through a budget-charged loop — every
    * 64 KiB chunk is charged against the in-flight budget BEFORE it is
    * buffered, so a chunked or understated-length request cannot exceed
    * `maxInflightBytes` by more than one chunk; RAII release. */
  private def admitted[T](ex: HttpExchange)(f: Array[Byte] => T): T = {
    if (!permits.tryAcquire())
      throw ApiError(503, "SERVER_OVERLOADED", "too many in-flight writes")
    var charged = 0L
    def charge(delta: Long): Unit =
      if (inflightBytes.addAndGet(delta) > maxInflightBytes) {
        inflightBytes.addAndGet(-delta)
        metrics.inc("zombi_backpressure_rejects_total")
        throw ApiError(503, "SERVER_OVERLOADED", "in-flight byte budget exceeded")
      } else charged += delta
    try {
      // clamp: a negative declared length must not be allowed to drive the
      // SHARED inflight counter negative (which would disable the byte
      // budget for every concurrent writer for the request's duration)
      charge(math.max(0L, Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(_.toLongOption).getOrElse(4096L)))
      val in  = ex.getRequestBody
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        val need = out.size().toLong + n - charged
        if (need > 0) charge(need)
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      f(out.toByteArray)
    } finally { inflightBytes.addAndGet(-charged); permits.release() }
  }

  private def isProtobuf(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Content-Type")).exists(_.startsWith("application/x-protobuf"))

  /** The reference's partition wire type is u32
    * (`/root/reference/src/api/handlers.rs:283`) — a negative partition
    * can never occur there; reject it instead of minting real
    * buffer/sequence/table state under a nonsense key. */
  private def validPartition(p: Int): Int =
    if (p < 0) throw ApiError(400, "INVALID_INPUT", s"partition must be >= 0, got $p") else p

  /** Per-event payload cap, kept safely under the WAL's 64 MiB frame
    * replay cap (frame = payload + topic/key + ~40 bytes framing): an
    * event whose frame exceeded the replay cap would truncate every later
    * acked event out of the log on restart. */
  private val MaxPayloadBytes: Int = 48 << 20
  private def validPayload(b: Array[Byte]): Array[Byte] =
    if (b.length > MaxPayloadBytes)
      throw ApiError(413, "PAYLOAD_TOO_LARGE",
        s"payload of ${b.length} bytes exceeds the $MaxPayloadBytes-byte limit")
    else b

  private def writeOne(ex: HttpExchange, topic: String, t0: Long): Unit = admitted(ex) { body =>
    val (payload, partition, ts, key) =
      if (isProtobuf(ex)) {
        val e = ProtoCodec.decodeEvent(body)
        val part = validPartition(
          Option(ex.getRequestHeaders.getFirst("X-Partition")).flatMap(_.toIntOption).getOrElse(0))
        (validPayload(e.payload), part, if (e.timestampMs == 0) System.currentTimeMillis() else e.timestampMs, e.idempotencyKey)
      } else {
        val n = parseJson(body)
        val payload = Option(n.get("payload")).filterNot(_.isNull).map(_.asText)
          .getOrElse(throw ApiError(400, "INVALID_INPUT", "payload is required"))
        (validPayload(payload.getBytes("UTF-8")),
         validPartition(Option(n.get("partition")).map(_.asInt).getOrElse(0)),
         Option(n.get("timestamp_ms")).filterNot(_.isNull).map(_.asLong).getOrElse(System.currentTimeMillis()),
         Option(n.get("idempotency_key")).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty))
      }
    committer(topic) // ensures watermark seeding before first write
    val (offset, dup) = hot.write(topic, partition, payload, ts, key)
    metrics.inc("zombi_writes_total")
    metrics.incLabelled("zombi_writes_by_topic_total", s"""topic="${escape(topic)}"""")
    if (dup) metrics.inc("zombi_duplicate_writes_total")
    metrics.observeMs("zombi_write_latency_ms", (System.nanoTime() - t0) / 1e6)
    sendJson(ex, 202, s"""{"offset":$offset,"partition":$partition,"table":"${escape(topic)}"}""")
  }

  private def writeBulk(ex: HttpExchange, topic: String, t0: Long): Unit = admitted(ex) { body =>
    committer(topic)
    val records: Seq[(Array[Byte], Int, Long, Option[String])] =
      if (isProtobuf(ex))
        ProtoCodec.decodeBulkRequest(body).map { r =>
          (validPayload(r.payload), validPartition(r.partition),
           if (r.timestampMs == 0) System.currentTimeMillis() else r.timestampMs, r.idempotencyKey)
        }
      else {
        val n = parseJson(body)
        val arr = Option(n.get("records")).filter(_.isArray)
          .getOrElse(throw ApiError(400, "INVALID_INPUT", "records array is required"))
        arr.elements().asScala.map { rec =>
          (validPayload(Option(rec.get("payload")).filterNot(_.isNull).map(_.asText).getOrElse(
             throw ApiError(400, "INVALID_INPUT", "payload is required")).getBytes("UTF-8")),
           validPartition(Option(rec.get("partition")).map(_.asInt).getOrElse(0)),
           Option(rec.get("timestamp_ms")).filterNot(_.isNull).map(_.asLong).getOrElse(System.currentTimeMillis()),
           Option(rec.get("idempotency_key")).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty))
        }.toSeq
      }
    // one atomic batch: the whole bulk admits or rejects together (S2),
    // one lock pass + one WAL flush for the whole batch
    val offsets = hot.writeBulk(topic, records)
    metrics.inc("zombi_writes_total", offsets.size.toLong)
    metrics.incLabelled("zombi_writes_by_topic_total", s"""topic="${escape(topic)}"""", offsets.size.toLong)
    metrics.observeMs("zombi_write_latency_ms", (System.nanoTime() - t0) / 1e6)
    sendJson(ex, 202, s"""{"offsets":[${offsets.mkString(",")}],"count":${offsets.size},"table":"${escape(topic)}"}""")
  }

  // ----------------------------------------------------------------- reads

  private def read(ex: HttpExchange, topic: String): Unit = {
    val q = query(ex)
    val limit  = math.max(1, math.min(q.get("limit").flatMap(_.toIntOption).getOrElse(100), 100000))
    val fields = ArrowOutput.validateProjectionOr400(q.get("fields"))
    if (hot.size(topic) == 0 && committer(topic).currentVersion() == 0)
      throw ApiError(404, "TOPIC_NOT_FOUND", s"unknown table $topic")
    val partition = q.get("partition").flatMap(_.toIntOption)
    val offset    = q.get("offset").flatMap(_.toLongOption)
    val events =
      if (q.get("tier").contains("cold"))
        // Q7 over HTTP: the reference's cold read path — list files from
        // the committed snapshot (manifest-pruned), filter, sort, limit
        // (`/root/reference/src/storage/iceberg_storage.rs:1389-1476`)
        coldRead(topic, partition, offset.getOrElse(0L), limit + 1)
      else (partition, offset) match {
        case (Some(p), off) => hot.readPartition(topic, p, off.getOrElse(0L), limit + 1) // Q1
        case _              => hot.readAll(topic, q.get("since").flatMap(_.toLongOption), limit + 1) // Q2/Q3
      }
    val hasMore = events.size > limit // Q5
    val page    = events.take(limit)
    metrics.inc("zombi_reads_total")
    metrics.incLabelled("zombi_reads_by_topic_total", s"""topic="${escape(topic)}"""")
    ArrowOutput.negotiate(Option(ex.getRequestHeaders.getFirst("Accept"))) match {
      case None => throw ApiError(406, "NOT_ACCEPTABLE", "supported: application/json, application/vnd.apache.arrow.stream")
      case Some("application/vnd.apache.arrow.stream") =>
        send(ex, 200, "application/vnd.apache.arrow.stream", ArrowOutput.encodeEvents(page, fields))
      case _ =>
        val rows = page.map(e => jsonRecord(e, fields)).mkString(",")
        sendJson(ex, 200, s"""{"records":[$rows],"count":${page.size},"has_more":$hasMore}""")
    }
  }

  /** Cold-tier read through Spark: manifest pruning on the partition
    * identity bound, pushdown filter on sequence, sorted + limited. */
  private def coldRead(topic: String, partition: Option[Int], fromSeq: Long, limit: Int): Seq[StoredEvent] = {
    val c = committer(topic)
    if (c.currentVersion() == 0) return Nil
    val root  = s"$baseDir/$topic"
    val files = partition.map(p => EventTable.pruneByPartition(c, p)).getOrElse(c.activeDataFiles())
    var df    = EventTable.readCommitted(spark, root, files).filter(col("sequence") >= fromSeq)
    partition.foreach(p => df = df.filter(col("partition") === p))
    // schema-on-flush tables (§1.3) commit typed columns + an optional
    // `_payload_overflow` remainder INSTEAD of a raw payload column — a
    // cold read of such a table serves the retained remainder (empty when
    // fully extracted), never a 500 on the missing column
    val cols = df.columns.toSet
    df.orderBy("sequence")
      .limit(limit)
      .collect()
      .toSeq
      .map { r =>
        // an EVOLVED table carries BOTH columns: pre-config rows have
        // payload bytes (null overflow), post-config rows have null
        // payload (typed columns + overflow remainder) — fall through
        // null payload to the overflow, never NPE on either shape
        val payload =
          (if (cols("payload")) Option(r.getAs[Array[Byte]]("payload")) else None)
            .orElse(
              if (cols("_payload_overflow"))
                Option(r.getAs[String]("_payload_overflow")).map(_.getBytes("UTF-8"))
              else None)
            .getOrElse(Array.empty[Byte])
        val key = if (cols("idempotency_key")) Option(r.getAs[String]("idempotency_key")) else None
        StoredEvent(
          r.getAs[Long]("sequence"), topic, r.getAs[Int]("partition"),
          payload, r.getAs[Long]("timestamp_ms"), key)
      }
  }

  private def jsonRecord(e: StoredEvent, fields: Seq[String]): String =
    fields.map {
      case "sequence"        => s""""sequence":${e.sequence}"""
      case "topic"           => s""""topic":"${escape(e.topic)}""""
      case "partition"       => s""""partition":${e.partition}"""
      // lossy UTF-8 on purpose — REFERENCE PARITY: its JSON read path uses
      // from_utf8_lossy (`handlers.rs:775,795`); exact bytes are served by
      // the Arrow content type
      case "payload"         => s""""payload":"${escape(new String(e.payload, "UTF-8"))}""""
      case "timestamp_ms"    => s""""timestamp_ms":${e.timestampMs}"""
      case "idempotency_key" => e.idempotencyKey match {
        case Some(k) => s""""idempotency_key":"${escape(k)}""""
        case None    => """"idempotency_key":null"""
      }
    }.mkString("{", ",", "}")

  // ----------------------------------------------------------------- flush

  /** §1.3 config discovery: a `table_schema.json` in the table root turns
    * on schema-on-flush extraction for that topic, mirroring the
    * reference's `ZOMBI_TABLE_SCHEMA` / `table_schema.json` loading
    * (`/root/reference/src/main.rs:361-391`, `src/contracts/schema.rs:10-51`):
    * `{"payload_format":"json","fields":[{"name":..,"json_path":..,
    * "data_type":..,"nullable":..}]}`. */
  private def tableSchemaConfig(topic: String): Option[graft.extract.TableSchemaConfig] =
    schemaConfigFrom(committer(topic).io)

  /** io-level variant so [[committer]] can read the config BEFORE the
    * committer (and its construction-time schema) exists.
    *
    * HARDENED: a malformed config (bad JSON, missing keys, unsupported
    * data_type) degrades to None — no extraction — with a loud log and a
    * metric, instead of throwing inside committer construction and
    * bricking every request for the topic (posts and hot reads never
    * depended on the config being parseable). */
  private def schemaConfigFrom(io: graft.iceberg.TableIO): Option[graft.extract.TableSchemaConfig] = {
    if (!io.exists("table_schema.json")) None
    else scala.util.Try {
      val n = mapper.readTree(io.get("table_schema.json"))
      val fields = Option(n.get("fields")).toSeq.flatMap(_.elements().asScala).map { f =>
        graft.extract.FieldSpec(
          f.get("name").asText,
          f.get("json_path").asText,
          f.get("data_type").asText,
          Option(f.get("nullable")).forall(_.asBoolean))
      }
      val cfg = graft.extract.TableSchemaConfig(
        Option(n.get("payload_format")).map(_.asText).getOrElse("json"), fields)
      // validate data_types eagerly — a bad type must invalidate the
      // whole config HERE, not throw later inside a schema build
      graft.iceberg.IcebergSchema.withExtraction(cfg.fields.map(f => f.name -> f.dataType))
      cfg
    } match {
      case scala.util.Success(cfg) => Some(cfg)
      case scala.util.Failure(e) =>
        System.err.println(s"[gateway] ignoring invalid table_schema.json under ${io.root}: ${e.getMessage}")
        metrics.inc("zombi_schema_config_errors_total")
        None
    }
  }

  /** F2–F8 + F11: flush hot events past the committed watermark through the
    * driver write path, commit snapshots, evict covered events. The call
    * captures the hot tier's high watermarks when it starts and commits
    * every event acknowledged before that point — later arrivals wait for
    * the next call, so under steady load one call makes one commit and
    * always returns (the reference's timer tick, and a Structured Streaming
    * trigger fixing its end offset). One pass reads at most
    * `maxFlushBytes` (the reference's `max_segment_size` bound) and commits
    * one snapshot; a backlog larger than that takes several passes, each
    * over per-partition sequence-contiguous prefixes so sequences stay
    * dense. A `table_schema.json` in the table root switches the flush to
    * schema-on-flush extraction (typed columns + `_payload_overflow`).
    * Serialized per table with compaction — both rewrite the same table
    * dir. */
  def flushNow(topic: String): Option[Long] = tableLock(topic).synchronized {
    val c0   = committer(topic)
    val root = s"$baseDir/$topic"
    // The flush must commit under the DECLARED extraction, whatever the
    // config's timing relative to this committer's construction:
    //  - config appeared while the cached committer (default schema) had
    //    NOT committed yet → the first commit's metadata must carry the
    //    extracted schema, so the cached committer is swapped;
    //  - table existed before the config (or the config grew a field) →
    //    additive evolution, payload surviving as optional (Iceberg may
    //    not drop a field); a NON-additive edit raises the remediation
    //    error here rather than committing files that diverge from
    //    metadata;
    //  - config DISAPPEARED (deleted or degraded to None by the malformed-
    //    config hardening) after a committer was built WITH extraction:
    //    the flush below would write default-shaped files (payload column,
    //    no typed columns) — at v0 swap back to a default-schema committer
    //    so files and first-commit metadata agree; past v0, fail with a
    //    remediation error when the committed metadata has no payload
    //    field to read those files through (a silent commit would serve
    //    every flushed payload back as empty).
    val c = schemaConfigFrom(c0.io) match {
      case Some(cfg) if c0.currentVersion() == 0 =>
        val want = graft.iceberg.IcebergSchema.withExtraction(cfg.fields.map(f => f.name -> f.dataType))
        // rebuild on ANY mismatch, not just missing-extraction: a config
        // edited since this committer's construction (e.g. grew a field)
        // must not commit v1 metadata with the stale field set
        if (c0.schema == want) c0
        else {
          val fresh = new IcebergCommitter(c0.io, topic, want)
          committers.put(topic, fresh)
          fresh
        }
      case Some(_) => ensureExtractionDeclared(c0); c0
      case None =>
        val declared =
          if (c0.currentVersion() > 0) c0.currentSchema().getOrElse(c0.schema) else c0.schema
        if (!declared.fields.exists(_.id == graft.iceberg.FieldIds.PayloadOverflow)) c0
        else if (c0.currentVersion() == 0) {
          val fresh = new IcebergCommitter(c0.io, topic, graft.iceberg.IcebergSchema.default)
          committers.put(topic, fresh)
          fresh
        } else if (declared.fields.exists(_.id == graft.iceberg.FieldIds.Payload)) c0
        else
          throw new IllegalStateException(
            s"$topic: table_schema.json is missing or invalid but the committed schema declares " +
            "extraction without a payload field; restore the config (or evolve the schema) before flushing")
    }
    val upTo      = Some(hot.highWatermarks(topic))
    var committed = c.maxCommittedSequencePerPartition()
    var last: Option[Long] = None
    var batch = hot.pendingForFlush(topic, committed, maxFlushBytes, upTo)
    while (batch.nonEmpty) {
      val t0 = System.nanoTime()
      val (frame, stats) = batchFrame(batch)
      val base = frame.withColumns(Map(
        "event_date" -> expr("date_add(date '1970-01-01', cast(timestamp_ms div 86400000 as int))"),
        "event_hour" -> expr("cast((timestamp_ms div 3600000) % 24 as int)")))
      val df = tableSchemaConfig(topic) match {
        case None =>
          base.select("sequence", "topic", "payload", "timestamp_ms", "idempotency_key",
                      "event_date", "event_hour", "partition")
        case Some(cfg) =>
          graft.extract.PayloadExtractor
            .extract(base, col("payload"), cfg)
            .select(Seq(col("sequence"), col("topic"), col("timestamp_ms"), col("idempotency_key"),
                        col("event_date"), col("event_hour")) ++
                    cfg.fields.map(f => col(f.name)) ++
                    Seq(col("_payload_overflow"), col("partition")): _*)
      }
      val dataFiles = EventTable.writeFiles(df, root, // exact file list, no dir diff
                                            precomputedStats = Some(stats), clustered = true,
                                            seqBase = committed, dateLayout = EventTable.dateLayoutOf(c))
        .map(_._1)
      val wm        = EventTable.watermarksOf(dataFiles)
      val res       = c.commitAppend(dataFiles, wm)
      hot.cleanup(topic, wm, retentionMs) // F11
      metrics.inc("zombi_flushes_total")
      metrics.inc("zombi_flush_events_total", batch.size.toLong)
      metrics.inc("zombi_flush_bytes_total", batch.map(_.payload.length.toLong).sum)
      metrics.inc("zombi_snapshots_total")
      metrics.observeMs("zombi_flush_latency_ms", (System.nanoTime() - t0) / 1e6)
      catalog.foreach { cl => // F13
        val v = res.version
        cl.register(namespace, topic, s"$root/${c.versionFile(v)}", new String(c.io.get(c.versionFile(v)), "UTF-8"))
      }
      committed = committed ++ wm
      last = Some(res.snapshotId)
      batch = hot.pendingForFlush(topic, committed, maxFlushBytes, upTo)
    }
    // still advance hot cleanup — covers a crash between a past commit and
    // its eviction, and retained events of partitions this call did not
    // touch (the reference's cleanup cycle does the same)
    hot.cleanup(topic, committed, retentionMs)
    last
  }

  /** A flush batch as a driver-local DataFrame (a `LocalRelation`, so the
    * write runs on driver threads with no Spark job), with its per-partition
    * `(partition, rows, bytes)` profile (the reference's payload+64B
    * estimate) — so the write needs no profiling pass either. */
  private def batchFrame(batch: Seq[StoredEvent]): (DataFrame, Seq[(Int, Long, Long)]) = {
    val rows = new java.util.ArrayList[Row](batch.size)
    batch.foreach(e => rows.add(Row(e.sequence, e.topic, e.payload, e.timestampMs, e.idempotencyKey.orNull, e.partition)))
    (spark.createDataFrame(rows, GatewayServer.FlushSchema),
     batch.groupBy(_.partition).toSeq.sortBy(_._1)
       .map { case (p, es) => (p, es.size.toLong, es.iterator.map(_.payload.length + 64L).sum) })
  }

  // ----------------------------------------------------- auto-maintenance

  /** Clock-driven maintenance — the reference runs every eroding invariant
    * on the flusher's timer loop (`/root/reference/src/flusher/mod.rs:514-
    * 650`); this engine's eroding invariants are METADATA ones (per-trigger
    * commits accrete snapshots and manifests; MoR deletes accrete scan
    * masks), so the same clock drives [[graft.table.Maintenance.vacuum]]
    * when a threshold is crossed:
    *  - snapshot count past `maxSnapshots` (metadata parse cost grows with
    *    every retained snapshot),
    *  - current manifest-list length past `maxManifests` (file planning
    *    walks one Avro object per list entry),
    *  - live delete rows at or past `deleteRowRatio` of table rows (every
    *    masked read pays the tombstone fold until compaction).
    * All three checks are summary/metadata reads — no data scan, so an
    * every-tick probe over all topics is safe at any table size.
    *
    * Runs under the same `compacting` guard as the admin routes (an
    * in-flight admin compact/vacuum skips this tick — returns None, the
    * next tick retries) and hands the per-table flush lock to vacuum as
    * its step lock, so ingestion flushes interleave between passes. A
    * CommitConflict from a racing writer also just yields the tick. */
  /** What the maintenance clock probes: every COMMITTED table under the
    * warehouse, plus hot-only topics that have not flushed yet. Broader
    * than the flush loop's `hot.topics` on purpose — a table written only
    * through the library path (`df.write.format("graft")`, MERGE/DELETE
    * jobs) accretes snapshots and delete masks without ever holding hot
    * events, and it is exactly the CDC-heavy table that needs the clock. */
  def maintainableTopics(): Seq[String] = (hot.topics ++ committedTopics()).distinct.sorted

  /** Delete-row counts at which a RATIO-triggered vacuum compacted nothing
    * (deletes spread thinly: every file below Compaction's per-file fold
    * ratio and too big for the size rules). While a topic's live delete
    * count sits exactly at its recorded futile value, the ratio term is
    * DISARMED — otherwise it re-fires on every flush tick and each tick
    * pays a full vacuum including the orphan-GC filesystem listing (the
    * futile-vacuum thrash class the snapshot-count term already guards
    * against). Any new delete or a fold by another trigger moves the
    * count and re-arms the term. */
  private val futileDeleteVacuums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def maintainIfNeeded(topic: String,
                       policy: GatewayServer.MaintenancePolicy = GatewayServer.MaintenancePolicy()
                      ): Option[Maintenance.VacuumReport] = {
    validated(topic)
    val c    = committer(topic)
    val meta = c.load().getOrElse(return None) // nothing committed yet
    val summary = meta.currentSnapshot.map(_.summary).getOrElse(Map.empty)
    def sl(k: String) = summary.get(k).flatMap(_.toLongOption).getOrElse(0L)
    val delRows = sl("total-position-deletes") + sl("total-equality-deletes")
    // the snapshot-count term counts only snapshots the triggered vacuum
    // COULD expire (older than the keepAgeMs retention floor): a table
    // committing more than maxSnapshots inside the floor would otherwise
    // sit above the threshold forever and run a futile full vacuum
    // (orphan listing included) on every tick. The manifest and
    // delete-ratio terms stay total — rewrite and compaction act
    // regardless of retention, so each trigger clears itself.
    val ageFloor =
      if (policy.keepAgeMs <= 0) Long.MaxValue
      else System.currentTimeMillis() - policy.keepAgeMs
    val expirable = meta.snapshots.count(_.timestampMs < ageFloor)
    val ratioFires =
      delRows > 0 &&
        delRows.toDouble / math.max(1L, sl("total-records")) >= policy.deleteRowRatio &&
        !Option(futileDeleteVacuums.get(topic)).exists(_.longValue == delRows)
    val otherFires =
      expirable > policy.maxSnapshots || c.currentManifestsOf(meta).size > policy.maxManifests
    if (!ratioFires && !otherFires) return None
    val guard = compacting.computeIfAbsent(topic, _ => new AtomicBoolean(false))
    if (!guard.compareAndSet(false, true)) return None // admin call in flight
    try {
      val r =
        // vacuum's default 24 h orphan-GC horizon on purpose: an unattended
        // job should never run closer to the in-flight-write window than an
        // operator would by default. keepNewerThanTsMs honors the policy's
        // lag headroom for checkpointed consumers (see MaintenancePolicy).
        try Maintenance.vacuum(spark, s"$baseDir/$topic",
          keepSnapshots = policy.keepSnapshots,
          keepNewerThanTsMs =
            if (policy.keepAgeMs <= 0) Long.MaxValue
            else System.currentTimeMillis() - policy.keepAgeMs,
          stepLock = tableLock(topic))
        catch { case _: CommitConflict => return None } // next tick retries
      metrics.inc("zombi_auto_vacuums_total")
      // futile-ratio back-off: a ratio-triggered run that compacted NOTHING
      // and left the delete count unchanged disarms the term at this count;
      // any run that moved the count re-arms it
      if (ratioFires) {
        val after = c.load().flatMap(_.currentSnapshot).map(_.summary).getOrElse(Map.empty)
        def al(k: String) = after.get(k).flatMap(_.toLongOption).getOrElse(0L)
        val delAfter = al("total-position-deletes") + al("total-equality-deletes")
        if (r.compactions == 0 && delAfter == delRows)
          futileDeleteVacuums.put(topic, java.lang.Long.valueOf(delRows))
        else futileDeleteVacuums.remove(topic)
      }
      Some(r)
    } finally guard.set(false)
  }

  // ----------------------------------------------------------------- misc

  private def committedTopics(): Seq[String] = {
    val base = Paths.get(baseDir)
    if (!Files.isDirectory(base)) Nil
    else {
      val s = Files.list(base)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p.resolve("metadata")))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  private def statsJson(): String = {
    val topics = (hot.topics ++ committedTopics()).distinct.sorted.map { t =>
      val committed = committers.asScala.get(t).map(_.summaryWatermarks()).getOrElse(Map.empty[Int, Long])
      val hwm       = hot.highWatermarks(t)
      val lag       = hwm.map { case (p, h) => math.max(0L, h - committed.getOrElse(p, 0L)) }.sum
      s""""${escape(t)}":{"hot_events":${hot.size(t)},"flush_lag":$lag}"""
    }
    s"""{"tables":{${topics.mkString(",")}},"inflight_bytes":${inflightBytes.get()}}"""
  }

  private def parseJson(body: Array[Byte]): JsonNode =
    try mapper.readTree(body)
    catch { case _: Exception => throw ApiError(400, "INVALID_INPUT", "malformed JSON body") }

  private def escape(s: String): String = graft.core.JsonUtil.escape(s)

  private def sendJson(ex: HttpExchange, status: Int, body: String): Unit =
    send(ex, status, "application/json", body.getBytes("UTF-8"))

  private def sendError(ex: HttpExchange, status: Int, code: String, msg: String): Unit = {
    metrics.inc("zombi_errors_total")
    sendJson(ex, status, s"""{"error":{"code":"${escape(code)}","message":"${escape(msg)}"}}""")
  }

  private def catalogError(ex: HttpExchange, status: Int, errType: String, msg: String): Unit =
    sendJson(ex, status, s"""{"error":{"message":"${escape(msg)}","type":"$errType","code":$status}}""")

  private def send(ex: HttpExchange, status: Int, contentType: String, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    if (ex.getRequestMethod == "HEAD") ex.sendResponseHeaders(status, -1)
    else { ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
           if (body.nonEmpty) { ex.getResponseBody.write(body) } }
  }
}

object GatewayServer {
  /** Hot events as the flush hands them to the writer. */
  private val FlushSchema = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("timestamp_ms", LongType, nullable = false),
    StructField("idempotency_key", StringType, nullable = true),
    StructField("partition", IntegerType, nullable = false)
  ))

  /** Thresholds for [[GatewayServer#maintainIfNeeded]] — sized so a
    * 5-minute-flush table vacuums a few times a day, and ANY lingering MoR
    * delete weight (5% of rows) triggers a fold rather than taxing every
    * scan until an operator notices. `keepSnapshots` is the retention the
    * triggered vacuum applies (2 = current + one rollback target).
    *
    * `keepAgeMs` is the lag headroom for streaming checkpoints and
    * time-travel readers: the triggered vacuum retains EVERY snapshot
    * younger than this (union semantics — keepLast ∪ age ∪ current), so a
    * consumer paused less than the window resumes cleanly instead of
    * hitting "unknown snapshot" on an auto-expired id. The default hour
    * bounds a 300 s-flush table at ~12 retained snapshots; raise it for
    * long-pausing consumers, lower it (or 0) only when nothing tails the
    * table. (A lagging consumer can still hit the vacuum's COMPACTION as
    * a loud append-only refusal — retention cannot make a replace
    * diffable.) */
  final case class MaintenancePolicy(
      maxSnapshots: Int = 64,
      maxManifests: Int = 32,
      deleteRowRatio: Double = 0.05,
      keepSnapshots: Int = 2,
      keepAgeMs: Long = 60L * 60 * 1000)

  /** The Iceberg REST multi-level namespace separator (information unit
    * separator, advertised percent-encoded as `%1F` in `/v1/config`). */
  val NamespaceSeparator: Char = '\u001F'

  /** Parse a namespace from a URL path/query value: split on the unit
    * separator ONLY — dots are literal level characters
    * (`/root/reference/src/api/catalog.rs:84-90`). */
  def parseNamespacePath(raw: String): Seq[String] =
    raw.split(NamespaceSeparator).iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Parse a CONFIGURED namespace (constructor arg / env): values carrying
    * the unit separator split on it; otherwise dots separate levels; an
    * empty result falls back to the single default level
    * (`catalog.rs:92-114`). */
  def parseNamespaceConfig(raw: String): Seq[String] = {
    val parsed =
      if (raw.indexOf(NamespaceSeparator.toInt) >= 0) parseNamespacePath(raw)
      else raw.split('.').iterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (parsed.isEmpty) Seq("zombi") else parsed
  }
}
