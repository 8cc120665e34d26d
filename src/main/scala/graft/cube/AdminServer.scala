package graft.cube

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Remote ADMIN transport — the reference's R7 message-broker admin API
  * (create/update/query/delete cubes over RabbitMQ, per SURVEY.md §2.1;
  * the survey sanctions "no message broker" on this zero-egress box)
  * re-expressed as far as physically possible: a loopback TCP server
  * speaking newline-delimited JSON request/response, one verb per line,
  * dispatching to the SAME [[CubeService]] verbs the in-process API
  * exposes — AdminServerSpec pins wire == in-process results verb by
  * verb, the MongoChangeStream.socketStream discipline.
  *
  * Wire shape (machine-written both ends, the configToJson discipline —
  * a tolerant flat-field parse, no JSON library exists offline):
  *   request  `{"verb":"getAggregates","name":"c1","dims":["d"],"sumOf":["v"]}`
  *   response `{"ok":true,"result":...}` | `{"ok":false,"error":"..."}`
  * Nested cube configs travel as an escaped STRING field (`"config":
  * "{\"name\":...}"`) so the parser never needs balanced-brace JSON.
  *
  * Data-plane note, deliberate: sources and deltas are passed as
  * PARQUET PATHS, not inlined rows — the admin channel carries control
  * messages; data stays on storage the executors read directly
  * (inlining a 100 TB source through an admin socket is the anti-shape).
  * Every path argument is opened with [[graft.Tables.parquet]], which
  * takes a flat directory's schema from its first data file's footer on
  * the driver: a fold request launches no schema-inference job for its
  * delta or source, only the jobs of the fold itself.
  * `getAggregates` does return rows inline: a serve reads cube-sized
  * data by construction (the MV win), and the admin client is the
  * reference's consumer of exactly that payload — bounded by the
  * per-request `maxRows` cap (default 10k; overflow is a structured
  * refusal, see [[serveRows]]).
  *
  * Binds the loopback interface ONLY — this is a same-host admin seam,
  * not an authenticated network service. */
final class AdminServer(service: CubeService, spark: SparkSession,
    ann: Option[graft.ann.AnnIndexService] = None) {
  @volatile private var server: ServerSocket = _
  @volatile private var running = false

  /** Bind loopback on an ephemeral port and serve until [[stop]];
    * returns the bound port. */
  def start(): Int = synchronized {
    require(server == null, "admin server already started")
    server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          val h = new Thread(() => handle(s))
          h.setDaemon(true); h.start()
        } catch { case NonFatal(_) =>
          // closed during stop() — or a persistent accept failure
          // (EMFILE under connection load): back off instead of
          // busy-spinning a core on the immediate retry
          if (running) Thread.sleep(50)
        }
      }
    }, "graft-admin-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    server.getLocalPort
  }

  def stop(): Unit = synchronized {
    running = false
    if (server != null) { try server.close() catch { case NonFatal(_) => () } }
    server = null
  }

  private def handle(sock: Socket): Unit = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      sock.getInputStream, StandardCharsets.UTF_8))
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      sock.getOutputStream, StandardCharsets.UTF_8), true)
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) out.println(dispatch(line))
        line = in.readLine()
      }
    } catch { case NonFatal(_) => () /* client went away */ }
    finally { try sock.close() catch { case NonFatal(_) => () } }
  }

  // ---- wire parse/render (the configFromJson discipline) -------------
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private def unesc(s: String) = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case o => b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }
  private def strField(req: String, key: String): Option[String] =
    s""""$key":\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(req)
      .map(m => unesc(m.group(1)))
  private def numField(req: String, key: String): Option[Double] =
    s""""$key":\\s*(-?[0-9.]+)""".r.findFirstMatchIn(req)
      .map(_.group(1).toDouble)
  private def strArray(req: String, key: String): Seq[String] = {
    val arr = s""""$key":\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(req)
      .map(_.group(1)).getOrElse(return Nil)
    """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(arr)
      .map(m => unesc(m.group(1))).toSeq
  }
  /** `"quantilesOf":["value:0.5","score:0.9"]` → Seq((col, num)) — the
    * pair families (quantile percentiles, top-k depths) travel as
    * `col:number` strings so the flat-field parser stays flat. */
  private def pairArray(req: String, key: String): Seq[(String, Double)] =
    strArray(req, key).map { s =>
      val i = s.lastIndexOf(':')
      require(i > 0 && i < s.length - 1,
        s"'$key' entries must be 'column:number', got '$s'")
      (s.substring(0, i), s.substring(i + 1).toDouble)
    }
  private def ok(result: String) = s"""{"ok":true,"result":$result}"""
  private def err(msg: String) = s"""{"ok":false,"error":"${esc(msg)}"}"""

  /** Result-size guard on every row-returning serve: the wire collects
    * rows to the driver by design (a serve reads cube-sized data — the
    * MV win — and the admin client is the consumer of exactly that
    * payload), but "cube-sized" is a modeling assumption, not a bound:
    * a high-cardinality-dim cube could flood the driver heap and the
    * socket. `maxRows` (request field, default 10k) caps the collect at
    * the PLAN level (`limit(maxRows+1)` — the overflow probe rides the
    * same job, never a second count() pass) and overflow is a
    * structured REFUSAL, not silent truncation: a control-plane client
    * that got 10k rows of a 2M-row serve would have no way to know. */
  private val defaultMaxRows = 10000
  private def serveRows(df: org.apache.spark.sql.DataFrame,
      dims: Seq[String], req: String): String = {
    val cap = numField(req, "maxRows").map(_.toInt).getOrElse(defaultMaxRows)
    require(cap > 0, s"maxRows must be positive, got $cap")
    val sorted = dims match {
      case Nil => df
      case ds => df.orderBy(ds.map(col): _*)
    }
    val rows = sorted.limit(cap + 1).toJSON.collect()
    if (rows.length > cap)
      err(s"result exceeds maxRows=$cap; raise 'maxRows' in the request " +
        "or narrow the serve (fewer dims / a filter)")
    else ok(rows.mkString("[", ",", "]"))
  }

  private def need(v: Option[String], key: String): String =
    v.getOrElse(throw new IllegalArgumentException(s"missing field '$key'"))

  /** One request line → one response line. Every failure is a
    * structured error response, never a dropped connection. */
  private[cube] def dispatch(req: String): String =
    try {
      strField(req, "verb") match {
        case Some("ping") => ok("\"pong\"")
        case Some("listCubes") =>
          ok(service.listCubes().map(n => s""""${esc(n)}"""")
            .mkString("[", ",", "]"))
        case Some("createCube") =>
          val cfg = need(strField(req, "config"), "config")
          val src = need(strField(req, "sourceParquet"), "sourceParquet")
          val cube = service.createCube(cfg, Tables.parquet(spark, src))
          ok(s""""${esc(cube.config.name)}"""")
        case Some("deleteCube") =>
          service.deleteCube(need(strField(req, "name"), "name"))
          ok("\"deleted\"")
        case Some("updateAggregates") =>
          val name = need(strField(req, "name"), "name")
          val delta = need(strField(req, "deltaParquet"), "deltaParquet")
          // optional post-delta source: without it a delete batch on a
          // sketch/extreme-carrying cube trips the permanent hasDeletes
          // latch (the delete-capable targeted recompute needs the
          // current source state) — the wire verb must not silently
          // offer LESS than the in-process one
          service.updateAggregates(name, Tables.parquet(spark, delta),
            source = strField(req, "sourceParquet")
              .map(Tables.parquet(spark, _)))
          ok("\"updated\"")
        case Some("getAggregates") =>
          val name = need(strField(req, "name"), "name")
          val df = service.getAggregates(name,
            dims = strArray(req, "dims"),
            filter = strField(req, "filter")
              .map(org.apache.spark.sql.functions.expr).getOrElse(lit(true)),
            sumOf = strArray(req, "sumOf"),
            avgOf = strArray(req, "avgOf"),
            distinctOf = strArray(req, "distinctOf"),
            quantilesOf = pairArray(req, "quantilesOf"),
            minOf = strArray(req, "minOf"),
            maxOf = strArray(req, "maxOf"),
            topkOf = pairArray(req, "topkOf").map { case (c, k) => (c, k.toInt) },
            exactDistinctOf = strArray(req, "exactDistinctOf"),
            // 'dim:granularity' entries — the time-hierarchy grouping
            // (monthly top-k from a day cube etc.), full parity with
            // the in-process verb
            timeRollup = strArray(req, "timeRollup").map { s =>
              val i = s.lastIndexOf(':')
              require(i > 0 && i < s.length - 1,
                s"'timeRollup' entries must be 'dim:granularity', got '$s'")
              (s.substring(0, i), s.substring(i + 1))
            })
          // deterministic wire order: sort by the dims (and any rollup
          // output columns), then render each row as a JSON object
          // (toJSON is Spark's own row renderer)
          serveRows(df,
            strArray(req, "dims") ++ strArray(req, "timeRollup").map { s =>
              s"${s.substring(0, s.lastIndexOf(':'))}_${s.substring(s.lastIndexOf(':') + 1)}"
            }, req)
        case Some("getRolling") | Some("getJoinRolling") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb").contains("getJoinRolling")
          // "asOfVersion": serve a RETAINED HISTORICAL version — the
          // cohort time-travel form. Join MVs version through the jmv
          // manifest; their retained version dirs are immutable
          // consistent triples, so the as-of serve reads v<k>'s cube
          val asOf = numField(req, "asOfVersion").map(_.toInt)
          val fn = asOf match {
            case Some(v) if isJoin => service.getJoinRollingAsOf(name,
              v, _, _, _, _, _, _, _, _, _, _, _)
            case Some(v) => service.getRollingAsOf(name, v, _, _, _, _,
              _, _, _, _, _, _, _)
            case None if isJoin => service.getJoinRolling(name, _, _, _,
              _, _, _, _, _, _, _, _)
            case None => service.getRolling(name, _, _, _, _, _, _, _,
              _, _, _, _)
          }
          val df = fn(
            need(strField(req, "dayDim"), "dayDim"),
            numField(req, "windowDays").map(_.toInt).getOrElse(7),
            strArray(req, "distinctOf"),
            pairArray(req, "quantilesOf"),
            strArray(req, "minOf"),
            strArray(req, "maxOf"),
            strArray(req, "sumOf"),
            strArray(req, "avgOf"),
            strArray(req, "exactDistinctOf"),
            strArray(req, "segmentBy"),
            strArray(req, "intersectOf"))
          serveRows(df, strArray(req, "segmentBy") :+ "day", req)
        case Some("getCohortMatrix") | Some("getJoinCohortMatrix") =>
          val name = need(strField(req, "name"), "name")
          val isJoin =
            strField(req, "verb").contains("getJoinCohortMatrix")
          val asOfCoh = numField(req, "asOfVersion").map(_.toInt)
          val calCoh = strField(req, "calendar")
          if (calCoh.isDefined && numField(req, "periodDays").isDefined)
            throw new IllegalArgumentException(
              "calendar and periodDays are mutually exclusive")
          val cohDay = need(strField(req, "dayDim"), "dayDim")
          val cohBm = need(strField(req, "bitmapId"), "bitmapId")
          val cohSegs = strArray(req, "segmentBy")
          val df = (asOfCoh, calCoh) match {
            case (Some(v), _) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(if (calCoh.isDefined) 1 else 7)
              if (isJoin)
                service.getJoinCohortMatrixAsOf(name, v, cohDay, cohBm,
                  pd, cohSegs, calCoh)
              else service.getCohortMatrixAsOf(name, v, cohDay, cohBm,
                pd, cohSegs, calCoh)
            case (None, Some(g)) =>
              if (isJoin) service.getJoinCohortMatrixCalendar(name,
                cohDay, cohBm, g, cohSegs)
              else service.getCohortMatrixCalendar(name, cohDay, cohBm,
                g, cohSegs)
            case (None, None) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(7)
              if (isJoin)
                service.getJoinCohortMatrix(name, cohDay, cohBm, pd,
                  cohSegs)
              else service.getCohortMatrix(name, cohDay, cohBm, pd,
                cohSegs)
          }
          serveRows(df, cohSegs ++ Seq("cohort", "offset"), req)
        case Some("getCohortValue") | Some("getJoinCohortValue") =>
          val name = need(strField(req, "name"), "name")
          val isJoin =
            strField(req, "verb").contains("getJoinCohortValue")
          val asOfCv = numField(req, "asOfVersion").map(_.toInt)
          val calCv = strField(req, "calendar")
          if (calCv.isDefined && numField(req, "periodDays").isDefined)
            throw new IllegalArgumentException(
              "calendar and periodDays are mutually exclusive")
          val cvDay = need(strField(req, "dayDim"), "dayDim")
          val cvW = need(strField(req, "weightedId"), "weightedId")
          val cvSegs = strArray(req, "segmentBy")
          val df = (asOfCv, calCv) match {
            case (Some(v), _) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(if (calCv.isDefined) 1 else 7)
              if (isJoin)
                service.getJoinCohortValueAsOf(name, v, cvDay, cvW,
                  pd, cvSegs, calCv)
              else service.getCohortValueAsOf(name, v, cvDay, cvW,
                pd, cvSegs, calCv)
            case (None, Some(g)) =>
              if (isJoin) service.getJoinCohortValueCalendar(name,
                cvDay, cvW, g, cvSegs)
              else service.getCohortValueCalendar(name, cvDay, cvW,
                g, cvSegs)
            case (None, None) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(7)
              if (isJoin)
                service.getJoinCohortValue(name, cvDay, cvW, pd, cvSegs)
              else service.getCohortValue(name, cvDay, cvW, pd, cvSegs)
          }
          serveRows(df, cvSegs ++ Seq("cohort", "offset"), req)
        case Some("getValueGrowthAccounting") |
            Some("getJoinValueGrowthAccounting") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb")
            .contains("getJoinValueGrowthAccounting")
          val asOfVg = numField(req, "asOfVersion").map(_.toInt)
          val calVg = strField(req, "calendar")
          if (calVg.isDefined && numField(req, "periodDays").isDefined)
            throw new IllegalArgumentException(
              "calendar and periodDays are mutually exclusive")
          val vgDay = need(strField(req, "dayDim"), "dayDim")
          val vgW = need(strField(req, "weightedId"), "weightedId")
          val vgSegs = strArray(req, "segmentBy")
          val df = (asOfVg, calVg) match {
            case (Some(v), _) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(if (calVg.isDefined) 1 else 7)
              if (isJoin)
                service.getJoinValueGrowthAccountingAsOf(name, v, vgDay,
                  vgW, pd, vgSegs, calVg)
              else service.getValueGrowthAccountingAsOf(name, v, vgDay,
                vgW, pd, vgSegs, calVg)
            case (None, Some(g)) =>
              if (isJoin) service.getJoinValueGrowthAccountingCalendar(
                name, vgDay, vgW, g, vgSegs)
              else service.getValueGrowthAccountingCalendar(name, vgDay,
                vgW, g, vgSegs)
            case (None, None) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(7)
              if (isJoin)
                service.getJoinValueGrowthAccounting(name, vgDay, vgW,
                  pd, vgSegs)
              else service.getValueGrowthAccounting(name, vgDay, vgW,
                pd, vgSegs)
          }
          serveRows(df, vgSegs :+ "period", req)
        case Some("getTopSpenders") | Some("getJoinTopSpenders") =>
          val name = need(strField(req, "name"), "name")
          val isJoin =
            strField(req, "verb").contains("getJoinTopSpenders")
          val tsDay = need(strField(req, "dayDim"), "dayDim")
          val tsW = need(strField(req, "weightedId"), "weightedId")
          val tsK = numField(req, "k").map(_.toInt).getOrElse(10)
          val tsPd = numField(req, "periodDays").map(_.toInt).getOrElse(7)
          val tsSegs = strArray(req, "segmentBy")
          val df = (numField(req, "asOfVersion").map(_.toInt), isJoin) match {
            case (Some(v), false) =>
              service.getTopSpendersAsOf(name, v, tsDay, tsW, tsK, tsPd,
                tsSegs)
            case (Some(_), true) => throw new IllegalArgumentException(
              "getJoinTopSpenders does not take asOfVersion yet — use " +
                "the head serve")
            case (None, true) =>
              service.getJoinTopSpenders(name, tsDay, tsW, tsK, tsPd,
                tsSegs)
            case (None, false) =>
              service.getTopSpenders(name, tsDay, tsW, tsK, tsPd, tsSegs)
          }
          serveRows(df, tsSegs ++ Seq("period", "rank"), req)
        case Some("getOverlapMatrix") | Some("getJoinOverlapMatrix") =>
          val name = need(strField(req, "name"), "name")
          val isJoin =
            strField(req, "verb").contains("getJoinOverlapMatrix")
          val asOfOvl = numField(req, "asOfVersion").map(_.toInt)
          val fn = asOfOvl match {
            case Some(v) if isJoin =>
              service.getJoinOverlapMatrixAsOf(name, v, _, _, _)
            case Some(v) => service.getOverlapMatrixAsOf(name, v, _, _, _)
            case None if isJoin => service.getJoinOverlapMatrix(name, _, _, _)
            case None => service.getOverlapMatrix(name, _, _, _)
          }
          val df = fn(
            need(strField(req, "dim"), "dim"),
            need(strField(req, "bitmapId"), "bitmapId"),
            strArray(req, "values"))
          serveRows(df, Seq("a", "b"), req)
        case Some("getCumulative") | Some("getJoinCumulative") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb").contains("getJoinCumulative")
          val asOfCum = numField(req, "asOfVersion").map(_.toInt)
          val fn = asOfCum match {
            case Some(v) if isJoin =>
              service.getJoinCumulativeAsOf(name, v, _, _, _, _, _)
            case Some(v) =>
              service.getCumulativeAsOf(name, v, _, _, _, _, _)
            case None if isJoin =>
              service.getJoinCumulative(name, _, _, _, _, _)
            case None => service.getCumulative(name, _, _, _, _, _)
          }
          val df = fn(
            need(strField(req, "dayDim"), "dayDim"),
            strArray(req, "sumOf"),
            strArray(req, "exactDistinctOf"),
            strField(req, "resetBy"),
            strArray(req, "segmentBy"))
          serveRows(df, strArray(req, "segmentBy") :+ "day", req)
        case Some("getFunnel") | Some("getJoinFunnel") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb").contains("getJoinFunnel")
          val asOfFun = numField(req, "asOfVersion").map(_.toInt)
          val fn = asOfFun match {
            case Some(v) if isJoin =>
              service.getJoinFunnelAsOf(name, v, _, _, _, _, _, _, _)
            case Some(v) =>
              service.getFunnelAsOf(name, v, _, _, _, _, _, _, _)
            case None if isJoin =>
              service.getJoinFunnel(name, _, _, _, _, _, _, _)
            case None => service.getFunnel(name, _, _, _, _, _, _, _)
          }
          val df = fn(
            need(strField(req, "dayDim"), "dayDim"),
            need(strField(req, "bitmapId"), "bitmapId"),
            need(strField(req, "stepDim"), "stepDim"),
            strArray(req, "steps"),
            numField(req, "periodDays").map(_.toInt).getOrElse(1),
            strArray(req, "segmentBy"),
            numField(req, "withinPeriods").map(_.toInt).getOrElse(0))
          serveRows(df,
            strArray(req, "segmentBy") ++ Seq("period", "step_ord"), req)
        case Some("getTimeToConvert") | Some("getJoinTimeToConvert") =>
          // the conversion-lag histogram; maxLagPeriods is bounded by
          // the verb itself (1..366 — wire-reachable fan-out guard)
          val name = need(strField(req, "name"), "name")
          val isJoin =
            strField(req, "verb").contains("getJoinTimeToConvert")
          val fn = (numField(req, "asOfVersion").map(_.toInt) match {
            case Some(v) if isJoin =>
              service.getJoinTimeToConvertAsOf(name, v,
                _, _, _, _, _, _, _, _)
            case Some(v) =>
              service.getTimeToConvertAsOf(name, v,
                _, _, _, _, _, _, _, _)
            case None if isJoin =>
              service.getJoinTimeToConvert(name, _, _, _, _, _, _, _, _)
            case None =>
              service.getTimeToConvert(name, _, _, _, _, _, _, _, _)
          }): (String, String, String, Seq[String], Int, Int,
            Seq[String], Option[String]) => org.apache.spark.sql.DataFrame
          val df = fn(
            need(strField(req, "dayDim"), "dayDim"),
            need(strField(req, "bitmapId"), "bitmapId"),
            need(strField(req, "stepDim"), "stepDim"),
            strArray(req, "steps"),
            numField(req, "periodDays").map(_.toInt).getOrElse(1),
            numField(req, "maxLagPeriods").map(_.toInt).getOrElse(366),
            strArray(req, "segmentBy"),
            strField(req, "calendar"))
          serveRows(df,
            strArray(req, "segmentBy") :+ "lag_periods", req)
        case Some("getRetention") | Some("getJoinRetention") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb").contains("getJoinRetention")
          // "calendar": month/quarter/year — the calendar-period
          // matrix; mutually exclusive with periodDays (the fixed-
          // width form), same discipline as the in-process API
          val cal = strField(req, "calendar")
          if (cal.isDefined && numField(req, "periodDays").isDefined)
            throw new IllegalArgumentException(
              "calendar and periodDays are mutually exclusive")
          val dayDim = need(strField(req, "dayDim"), "dayDim")
          val bmId = need(strField(req, "bitmapId"), "bitmapId")
          val segs = strArray(req, "segmentBy")
          val asOfRet = numField(req, "asOfVersion").map(_.toInt)
          val df = (cal, asOfRet) match {
            case (_, Some(v)) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(if (cal.isDefined) 1 else 7)
              if (isJoin)
                service.getJoinRetentionAsOf(name, v, dayDim, bmId, pd,
                  segs, cal)
              else service.getRetentionAsOf(name, v, dayDim, bmId, pd,
                segs, cal)
            case (Some(g), None) =>
              if (isJoin)
                service.getJoinRetentionCalendar(name, dayDim, bmId, g, segs)
              else service.getRetentionCalendar(name, dayDim, bmId, g, segs)
            case (None, None) =>
              val pd = numField(req, "periodDays").map(_.toInt).getOrElse(7)
              if (isJoin)
                service.getJoinRetention(name, dayDim, bmId, pd, segs)
              else service.getRetention(name, dayDim, bmId, pd, segs)
          }
          serveRows(df, segs :+ "period", req)
        case Some("getEngagement") | Some("getJoinEngagement") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb").contains("getJoinEngagement")
          val asOfEng = numField(req, "asOfVersion").map(_.toInt)
          val fn = asOfEng match {
            case Some(v) if isJoin =>
              service.getJoinEngagementAsOf(name, v, _, _, _, _)
            case Some(v) => service.getEngagementAsOf(name, v, _, _, _, _)
            case None if isJoin => service.getJoinEngagement(name, _, _, _, _)
            case None => service.getEngagement(name, _, _, _, _)
          }
          val df = fn(
            need(strField(req, "dayDim"), "dayDim"),
            need(strField(req, "bitmapId"), "bitmapId"),
            numField(req, "windowDays").map(_.toInt).getOrElse(7),
            strArray(req, "segmentBy"))
          serveRows(df,
            strArray(req, "segmentBy") ++ Seq("day", "days_active"), req)
        case Some("getStickiness") | Some("getJoinStickiness") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb").contains("getJoinStickiness")
          val asOfSt = numField(req, "asOfVersion").map(_.toInt)
          val fn = asOfSt match {
            case Some(v) if isJoin =>
              service.getJoinStickinessAsOf(name, v, _, _, _, _, _)
            case Some(v) => service.getStickinessAsOf(name, v, _, _, _, _, _)
            case None if isJoin =>
              service.getJoinStickiness(name, _, _, _, _, _)
            case None => service.getStickiness(name, _, _, _, _, _)
          }
          val df = fn(
            need(strField(req, "dayDim"), "dayDim"),
            need(strField(req, "bitmapId"), "bitmapId"),
            numField(req, "shortDays").map(_.toInt).getOrElse(1),
            numField(req, "longDays").map(_.toInt).getOrElse(28),
            strArray(req, "segmentBy"))
          serveRows(df, strArray(req, "segmentBy") :+ "day", req)
        case Some("getGrowthAccounting") | Some("getJoinGrowthAccounting") =>
          val name = need(strField(req, "name"), "name")
          val isJoin =
            strField(req, "verb").contains("getJoinGrowthAccounting")
          val calGa = strField(req, "calendar")
          if (calGa.isDefined && numField(req, "periodDays").isDefined)
            throw new IllegalArgumentException(
              "calendar and periodDays are mutually exclusive")
          val gaDay = need(strField(req, "dayDim"), "dayDim")
          val gaBm = need(strField(req, "bitmapId"), "bitmapId")
          val gaSegs = strArray(req, "segmentBy")
          val asOfGa = numField(req, "asOfVersion").map(_.toInt)
          val df = (calGa, asOfGa) match {
            case (_, Some(v)) =>
              val pd = numField(req, "periodDays").map(_.toInt)
                .getOrElse(if (calGa.isDefined) 1 else 7)
              if (isJoin)
                service.getJoinGrowthAccountingAsOf(name, v, gaDay,
                  gaBm, pd, gaSegs, calGa)
              else service.getGrowthAccountingAsOf(name, v, gaDay, gaBm,
                pd, gaSegs, calGa)
            case (Some(g), None) =>
              if (isJoin) service.getJoinGrowthAccountingCalendar(name,
                gaDay, gaBm, g, gaSegs)
              else service.getGrowthAccountingCalendar(name, gaDay, gaBm,
                g, gaSegs)
            case (None, None) =>
              val pd = numField(req, "periodDays").map(_.toInt).getOrElse(7)
              if (isJoin)
                service.getJoinGrowthAccounting(name, gaDay, gaBm, pd,
                  gaSegs)
              else service.getGrowthAccounting(name, gaDay, gaBm, pd,
                gaSegs)
          }
          serveRows(df, gaSegs :+ "period", req)
        case Some("diffAggregates") | Some("diffJoinAggregates") =>
          val name = need(strField(req, "name"), "name")
          val isJoin = strField(req, "verb").contains("diffJoinAggregates")
          val from = numField(req, "fromVersion").getOrElse(
            throw new IllegalArgumentException(
              "missing field 'fromVersion'")).toInt
          val to = numField(req, "toVersion").getOrElse(
            throw new IllegalArgumentException(
              "missing field 'toVersion'")).toInt
          val fn =
            if (isJoin) service.diffJoinAggregates _
            else service.diffAggregates _
          val df = fn(name, from, to, strArray(req, "dims"),
            strArray(req, "sumOf"))
          serveRows(df, strArray(req, "dims"), req)
        case Some("registerTable") =>
          // catalog prep for the SQL-text verbs (advise): expose a
          // parquet path as a named view in the server's session —
          // control-plane only, data stays on storage
          val name = need(strField(req, "name"), "name")
          require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"table name '$name' is not a bare identifier")
          Tables.parquet(spark, need(strField(req, "parquet"), "parquet"))
            .createOrReplaceTempView(name)
          ok("\"registered\"")
        case Some("advise") =>
          // the design loop over the wire: ship the dashboard's query
          // log (SQL text), get back materializable config JSON — each
          // config feeds straight into createCube / createJoinCube
          val sqls = strArray(req, "workloadSql")
          require(sqls.nonEmpty, "workloadSql must be a non-empty array")
          val a = CubeAdvisor.adviseSql(spark, sqls,
            strField(req, "namePrefix").getOrElse("advised"))
          def cfgJson(c: CubeConfig) =
            s""""${esc(CubeManager.configToJson(c))}""""
          def ints(xs: Seq[Int]) = xs.mkString("[", ",", "]")
          def strs(xs: Seq[String]) =
            xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
          val cubes = a.cubes.map(r =>
            s"""{"sourcePath":"${esc(r.sourcePath)}",""" +
              s""""config":${cfgJson(r.config)},""" +
              s""""covered":${ints(r.coveredQueries)},""" +
              s""""rangeOnlyDims":${strs(r.rangeOnlyDims)}}""")
            .mkString("[", ",", "]")
          val joins = a.joinCubes.map(r =>
            s"""{"leftPath":"${esc(r.leftPath)}",""" +
              s""""rightPath":"${esc(r.rightPath)}",""" +
              s""""leftKey":"${esc(r.config.leftKey)}",""" +
              s""""rightKey":"${esc(r.config.rightKey)}",""" +
              s""""config":${cfgJson(r.config.cube)},""" +
              s""""covered":${ints(r.coveredQueries)}}""")
            .mkString("[", ",", "]")
          val rolling = a.rolling.map(r =>
            s"""{"sourcePath":"${esc(r.sourcePath)}",""" +
              s""""config":${cfgJson(r.config)},""" +
              s""""dayDim":"${esc(r.dayDim)}",""" +
              s""""windows":${ints(r.windows)},""" +
              s""""exactDistinctOf":${strs(r.exactDistinctOf)},""" +
              s""""covered":${ints(r.coveredQueries)}}""")
            .mkString("[", ",", "]")
          val layouts = a.layouts.map(r =>
            s"""{"sourcePath":"${esc(r.sourcePath)}",""" +
              s""""columns":${strs(r.columns)},""" +
              s""""covered":${ints(r.coveredQueries)}}""")
            .mkString("[", ",", "]")
          // the join identity (when the cohort workload ran over an
          // INNER EQUI-JOIN): materialize via createJoinCube and serve
          // with the getJoinXxx verbs
          def joinJson(j: Option[(String, String, String, String)]) =
            j.map { case (lp, rp, lk, rk) =>
              s""","join":{"leftPath":"${esc(lp)}",""" +
                s""""rightPath":"${esc(rp)}",""" +
                s""""leftKey":"${esc(lk)}","rightKey":"${esc(rk)}"}"""
            }.getOrElse("")
          val retention = a.retention.map(r =>
            s"""{"sourcePath":"${esc(r.sourcePath)}",""" +
              s""""config":${cfgJson(r.config)},""" +
              s""""dayDim":"${esc(r.dayDim)}",""" +
              s""""bitmapId":"${esc(r.bitmapId)}",""" +
              s""""periods":${ints(r.periods)},""" +
              s""""segmentBy":${strs(r.segmentBy)},""" +
              s""""covered":${ints(r.coveredQueries)}""" +
              joinJson(r.join) + "}")
            .mkString("[", ",", "]")
          val funnel = a.funnel.map(r =>
            s"""{"sourcePath":"${esc(r.sourcePath)}",""" +
              s""""config":${cfgJson(r.config)},""" +
              s""""dayDim":"${esc(r.dayDim)}",""" +
              s""""stepDim":"${esc(r.stepDim)}",""" +
              s""""bitmapId":"${esc(r.bitmapId)}",""" +
              s""""chains":${r.chains.map(strs).mkString("[", ",", "]")},""" +
              s""""periods":${ints(r.periods)},""" +
              s""""covered":${ints(r.coveredQueries)}""" +
              joinJson(r.join) + "}")
            .mkString("[", ",", "]")
          ok(s"""{"cubes":$cubes,"joinCubes":$joins,""" +
            s""""rolling":$rolling,"layouts":$layouts,""" +
            s""""retention":$retention,"funnel":$funnel,""" +
            s""""uncovered":${ints(a.uncovered)}}""")
        case Some("listVersions") =>
          val name = need(strField(req, "name"), "name")
          ok(service.listCubeVersions(name).mkString("[", ",", "]"))
        case Some("getAggregatesAsOf") =>
          val name = need(strField(req, "name"), "name")
          val v = numField(req, "version")
            .getOrElse(throw new IllegalArgumentException(
              "missing field 'version'")).toInt
          val df = service.getAggregatesAsOf(name, v,
            dims = strArray(req, "dims"),
            sumOf = strArray(req, "sumOf"),
            avgOf = strArray(req, "avgOf"),
            distinctOf = strArray(req, "distinctOf"),
            quantilesOf = pairArray(req, "quantilesOf"),
            minOf = strArray(req, "minOf"),
            maxOf = strArray(req, "maxOf"),
            topkOf = pairArray(req, "topkOf").map { case (c, k) => (c, k.toInt) },
            exactDistinctOf = strArray(req, "exactDistinctOf"))
          serveRows(df, strArray(req, "dims"), req)
        case Some("listJoinCubes") =>
          ok(service.listJoinCubes().map(n => s""""${esc(n)}"""")
            .mkString("[", ",", "]"))
        case Some("createJoinCube") =>
          val cfg = CubeManager.configFromJson(
            need(strField(req, "config"), "config"))
          val jc = JoinCubeConfig(cfg,
            leftKey = need(strField(req, "leftKey"), "leftKey"),
            rightKey = need(strField(req, "rightKey"), "rightKey"))
          val l = need(strField(req, "leftParquet"), "leftParquet")
          val r = need(strField(req, "rightParquet"), "rightParquet")
          service.createJoinCube(jc, Tables.parquet(spark, l),
            Tables.parquet(spark, r))
          ok(s""""${esc(cfg.name)}"""")
        case Some("deleteJoinCube") =>
          service.deleteJoinCube(need(strField(req, "name"), "name"))
          ok("\"deleted\"")
        case Some("updateJoinAggregates") =>
          val name = need(strField(req, "name"), "name")
          // either side's delta may be absent → an empty frame with the
          // persisted side schema (limit(0) on the loaded state)
          val cur = service.loadJoinCube(name)
          def side(key: String, tmpl: org.apache.spark.sql.DataFrame) =
            strField(req, key).map(Tables.parquet(spark, _))
              .getOrElse(tmpl.drop("_mult").limit(0)
                .withColumn("_sign", lit(1L)))
          service.updateJoinAggregates(name,
            side("leftDeltaParquet", cur.left),
            side("rightDeltaParquet", cur.right))
          ok("\"updated\"")
        case Some("getJoinAggregates") =>
          val name = need(strField(req, "name"), "name")
          // full aggregate vocabulary, same as the in-process verb — a
          // wire verb must not silently offer LESS (the updateAggregates
          // sourceParquet principle)
          val df = service.getJoinAggregates(name,
            dims = strArray(req, "dims"),
            filter = strField(req, "filter")
              .map(org.apache.spark.sql.functions.expr).getOrElse(lit(true)),
            sumOf = strArray(req, "sumOf"),
            avgOf = strArray(req, "avgOf"),
            distinctOf = strArray(req, "distinctOf"),
            quantilesOf = pairArray(req, "quantilesOf"),
            minOf = strArray(req, "minOf"),
            maxOf = strArray(req, "maxOf"),
            topkOf = pairArray(req, "topkOf").map { case (c, k) => (c, k.toInt) },
            exactDistinctOf = strArray(req, "exactDistinctOf"))
          serveRows(df, strArray(req, "dims"), req)
        case Some("listJoinVersions") =>
          val name = need(strField(req, "name"), "name")
          ok(service.listJoinCubeVersions(name).mkString("[", ",", "]"))
        case Some("getJoinAggregatesAsOf") =>
          val name = need(strField(req, "name"), "name")
          val v = numField(req, "version")
            .getOrElse(throw new IllegalArgumentException(
              "missing field 'version'")).toInt
          val df = service.getJoinAggregatesAsOf(name, v,
            dims = strArray(req, "dims"),
            sumOf = strArray(req, "sumOf"),
            avgOf = strArray(req, "avgOf"),
            distinctOf = strArray(req, "distinctOf"),
            quantilesOf = pairArray(req, "quantilesOf"),
            minOf = strArray(req, "minOf"),
            maxOf = strArray(req, "maxOf"),
            topkOf = pairArray(req, "topkOf").map { case (c, k) => (c, k.toInt) },
            exactDistinctOf = strArray(req, "exactDistinctOf"))
          serveRows(df, strArray(req, "dims"), req)
        case Some("startAutoUpdate") =>
          val name = need(strField(req, "name"), "name")
          val dir = need(strField(req, "deltaDir"), "deltaDir")
          val ddl = need(strField(req, "schemaDdl"), "schemaDdl")
          service.startAutoUpdate(name, dir, StructType.fromDDL(ddl))
          ok("\"started\"")
        case Some("stopAutoUpdate") =>
          service.stopAutoUpdate(need(strField(req, "name"), "name"))
          ok("\"stopped\"")
        // ---- ANN index lifecycle (present when an AnnIndexService was
        // attached) — same control-plane discipline: vectors travel as
        // parquet paths, serves return query-batch-sized rows inline
        case Some(verb) if verb.startsWith("ann") =>
          val svc = ann.getOrElse(throw new IllegalArgumentException(
            "no ANN index service attached to this admin server"))
          verb match {
            case "annList" =>
              ok(svc.listIndexes().map(n => s""""${esc(n)}"""")
                .mkString("[", ",", "]"))
            case "annCreate" =>
              val name = need(strField(req, "name"), "name")
              svc.createIndex(name,
                Tables.parquet(spark,
                  need(strField(req, "vectorsParquet"), "vectorsParquet")),
                k = numField(req, "k").map(_.toInt).getOrElse(16),
                lloydIters =
                  numField(req, "lloydIters").map(_.toInt).getOrElse(2))
              ok(s""""${esc(name)}"""")
            case "annQuery" =>
              val name = need(strField(req, "name"), "name")
              val df = svc.queryIndex(name,
                Tables.parquet(spark,
                  need(strField(req, "queriesParquet"), "queriesParquet")),
                topK = numField(req, "topK").map(_.toInt).getOrElse(5),
                nprobe = numField(req, "nprobe").map(_.toInt).getOrElse(5))
              // |queries|×topK rows by construction, but the query batch
              // itself is client-supplied — same cap discipline
              serveRows(df, Nil, req)
            case "annUpsert" =>
              val name = need(strField(req, "name"), "name")
              svc.upsertVectors(name, Tables.parquet(spark,
                need(strField(req, "vectorsParquet"), "vectorsParquet")))
              ok("\"upserted\"")
            case "annDeleteVectors" =>
              val name = need(strField(req, "name"), "name")
              svc.deleteVectors(name, Tables.parquet(spark,
                need(strField(req, "idsParquet"), "idsParquet")))
              ok("\"deleted\"")
            case "annListVersions" =>
              ok(svc.listIndexVersions(need(strField(req, "name"), "name"))
                .mkString("[", ",", "]"))
            case "annQueryAsOf" =>
              val name = need(strField(req, "name"), "name")
              val v = numField(req, "version")
                .getOrElse(throw new IllegalArgumentException(
                  "missing field 'version'")).toInt
              val df = svc.queryIndexAsOf(name,
                Tables.parquet(spark,
                  need(strField(req, "queriesParquet"), "queriesParquet")),
                v,
                topK = numField(req, "topK").map(_.toInt).getOrElse(5),
                nprobe = numField(req, "nprobe").map(_.toInt).getOrElse(5))
              serveRows(df, Nil, req)
            case "annTune" =>
              val name = need(strField(req, "name"), "name")
              val (np, recall) = svc.tuneNprobe(name,
                Tables.parquet(spark,
                  need(strField(req, "sampleParquet"), "sampleParquet")),
                topK = numField(req, "topK").map(_.toInt).getOrElse(5),
                targetRecall =
                  numField(req, "targetRecall").getOrElse(0.95))
              ok(s"""{"nprobe":$np,"recall":$recall}""")
            case "annCompact" =>
              svc.compactIndex(need(strField(req, "name"), "name"),
                recluster = strField(req, "recluster").contains("true"))
              ok("\"compacted\"")
            case "annDrop" =>
              svc.deleteIndex(need(strField(req, "name"), "name"))
              ok("\"dropped\"")
            case v => err(s"unknown verb '$v'")
          }
        case Some(v) => err(s"unknown verb '$v'")
        case None => err("request has no 'verb' field")
      }
    } catch { case NonFatal(e) =>
      err(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
}
