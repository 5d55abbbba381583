package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.ArrowBridge

import graft.engine.{GraftHttpServer, GraftService, Pipeline, Reports, Tenancy}

/** The `service` workload: the service on an ephemeral loopback port,
  * driven over HTTP by the benchmark's own clients.
  *
  * Traced runs repeat each HTTP call as direct calls one layer down
  * (service, Arrow bridge, pipeline, models, reports), each in its own
  * span. A layer's own cost is then the difference between a call and
  * the call one layer below on the same input.
  */
object Service {

  /** Payload size per tenant file. */
  val PayloadBytes: Long = 2L * 1024 * 1024

  private def password(industry: String) = s"pw-$industry"
  private def clientId(industry: String) = s"bench_$industry"

  val Users: Seq[Tenancy.Tenant] = Gen.Industries.map(i =>
    Tenancy.Tenant(clientId(i), Tenancy.sha256Hex(password(i)), i))

  private final class Payload(val payroll: Gen.Payroll,
                         val batches: Array[Array[Byte]]) {
    def industry: String = payroll.industry
  }

  private def payloads(ctx: Ctx): Seq[Payload] = Gen.Industries.map { ind =>
    val p = Gen.payroll(ind, ctx.seed, PayloadBytes)
    new Payload(p, ArrowBridge.toArrowBatches(Gen.payrollFrame(ctx.spark, p)))
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  private def checkReport(r: Client.Reply, p: Gen.Payroll): Option[String] =
    if (r.code != 200) Some(s"report status ${r.code}")
    else {
      val s = Frames.summarize(r.frames, Seq("total_employee", "total_budget"),
        "job_title")
      if (s.rows != p.titles) Some(s"report rows ${s.rows} != ${p.titles}")
      else if (s.sums("total_employee") != p.nRows)
        Some(s"report employees ${s.sums("total_employee")} != ${p.nRows}")
      else if (!close(s.sums("total_budget"), p.total))
        Some(s"report total_budget ${s.sums("total_budget")} != ${p.total}")
      else None
    }

  private def checkExport(r: Client.Reply, p: Gen.Payroll): Option[String] =
    if (r.code != 200) Some(s"export status ${r.code}")
    else {
      val s = Frames.summarize(r.frames, Seq("total_amount"), "job_title")
      if (s.rows != p.nRows) Some(s"export rows ${s.rows} != ${p.nRows}")
      else if (!close(s.sums("total_amount"), p.total))
        Some(s"export total ${s.sums("total_amount")} != ${p.total}")
      else if (s.keys.iterator.sliding(2).exists {
        case Seq(a, b) => a != null && b != null && a > b
        case _ => false
      }) Some("export not ordered by job_title")
      else None
    }

  /** A PUT is right when it answered 200 and the report over the new
    * warehouse matches the generated payload.
    */
  private def checkPut(c: Client, reply: (Int, Long), filename: String,
                       p: Gen.Payroll): Option[String] =
    if (reply._1 != 200) Some(s"PUT status ${reply._1}")
    else checkReport(c.get(s"/files/$filename/report"), p)

  /** The service and its HTTP server over a fresh storage directory. */
  private final class Running(ctx: Ctx, name: String) {
    val storage: Path = ctx.work.resolve(name)
    Dirs.delete(storage)
    Files.createDirectories(storage)
    val service = new GraftService(ctx.spark, storage, Users)
    val server = new GraftHttpServer(service)
    val port: Int = server.start()
    def client(industry: String) =
      new Client(port, clientId(industry), password(industry))
  }

  /** The `service` workload. One uploader PUTs each tenant's payroll file
    * in turn (corporate, education, hospital), always over the same three
    * filenames, so every PUT after the first three replaces a live
    * warehouse. Alongside it, readers (one tenant each, up to four
    * clients in all and never more than nproc) send four report GETs to
    * every export GET over warehouses built at setup. All clients run
    * closed loops.
    */
  def service(ctx: Ctx): Map[String, Any] = {
    val svc = new Running(ctx, "storage")
    val ups = ctx.prep(payloads(ctx))
    val clients = ups.map(u => svc.client(u.industry))
    def putFile(i: Int) = s"${ups(i % 3).industry}_payroll.csv"
    def put(i: Int, phase: String): Unit = {
      val c = clients(i % 3)
      ctx.op("put", phase)(c.put(putFile(i), ups(i % 3).batches))(
        checkPut(c, _, putFile(i), ups(i % 3).payroll))
    }
    def get(k: Int, j: Int, phase: String): Unit = {
      val u = ups(k % 3)
      val fn = readFile(u.industry)
      if (j % 5 == 4)
        ctx.op("export", phase)(clients(k % 3).get(s"/files/$fn/export"))(
          checkExport(_, u.payroll))
      else
        ctx.op("report", phase)(clients(k % 3).get(s"/files/$fn/report"))(
          checkReport(_, u.payroll))
    }
    val nReaders = math.max(1, math.min(4, ctx.cores) - 1)
    // readers run until the uploader's loop ends
    def mixed(phase: String, seconds: Double, minPuts: Int): Unit = {
      @volatile var running = true
      val readers = (0 until nReaders).map { k =>
        val th = new Thread(() => {
          var j = 0
          while (running) { get(k, j, phase); j += 1 }
        })
        th.start()
        th
      }
      try ctx.loop(seconds, minPuts)(put(_, phase))
      finally { running = false; readers.foreach(_.join()) }
    }
    ctx.warmup {
      // the read warehouses: the three tenants upload at once, through the
      // service's own call
      val threads = ups.map(u => new Thread(() =>
        svc.service.uploadArrow(clientId(u.industry), password(u.industry),
          readFile(u.industry), u.batches)))
      threads.foreach(_.start())
      threads.foreach(_.join())
      mixed("warmup", 0, 7)
    }
    if (!ctx.trace) mixed("measure", ctx.seconds, 11)
    else {
      // one operation in flight at a time, so Spark jobs the HTTP handler
      // threads start belong to the one open span
      ctx.gcDuring(ctx.loop(ctx.seconds, 3) { i =>
        ctx.paired(i)(put(i, "untraced"))(
          tracedUpload(ctx, svc, ups(i % 3), clients(i % 3), putFile(i), i))
        (0 until 5).foreach { j =>
          ctx.paired(j)(get(i, j, "untraced"))(tracedRead(ctx, svc,
            ups(i % 3), readFile(ups(i % 3).industry), s"$i.$j", j % 5 == 4))
        }
      })
      splitIngest(ctx)
    }
    svc.server.stop()
    Map("clients" -> (nReaders + 1),
      "payload_bytes" -> ups.map(_.batches.map(_.length.toLong).sum))
  }

  private def readFile(industry: String) = s"${industry}_read.csv"

  /** One traced upload: the PUT, then the program's own calls one layer
    * down on the same input. `service.upload_arrow` is `uploadArrow` on the
    * same batches; `pipeline.ingest` is `Pipeline.ingest` on the CSV that
    * call staged and archived in the tenant's Raw zone. `arrow.decode` is
    * an extra decode-only job the program never runs (it fuses the decode
    * into the staging write), there to isolate the bridge's share.
    */
  private def tracedUpload(ctx: Ctx, svc: Running, u: Payload, c: Client,
                           filename: String, i: Int): Unit = {
    val t = ctx.tracer
    val id = clientId(u.industry)
    val pw = password(u.industry)
    t.span("upload", s"put-${u.industry}#$i") {
      ctx.op("put", "traced")(t.span("http.put") {
        val reply = c.put(filename, u.batches)
        t.attr("req_bytes", reply._2.toDouble)
        t.attr("batches_in", u.batches.length.toDouble)
        reply
      })(checkPut(c, _, filename, u.payroll))
      val tenant = t.span("tenancy.auth") {
        Tenancy.authenticate(Users, id, pw).fold(e => sys.error(e), identity)
      }
      val raw = Tenancy.rawPath(svc.storage, tenant, filename)
      t.span("service.upload_arrow") {
        svc.service.uploadArrow(id, pw, filename, u.batches)
        t.attr("staged_csv_bytes", Files.size(raw).toDouble)
      }
      val staged = ctx.work.resolve("staged.csv")
      Files.copy(raw, staged, StandardCopyOption.REPLACE_EXISTING)
      t.span("arrow.decode") {
        ArrowBridge.fromArrowBatches(ctx.spark, u.batches)
          .queryExecution.toRdd.foreach(_ => ())
      }
      t.span("pipeline.ingest") {
        Pipeline.ingest(ctx.spark, svc.storage, Users, id, pw, filename, staged)
      }
      val warehouse = Tenancy.cleanDir(svc.storage, tenant, filename)
      val fct = warehouse.resolve(s"${u.industry}.fct_${u.industry}")
      val rows = ctx.spark.read.parquet(fct.toString).count()
      ctx.op("fct_rows", "traced")(rows)(n =>
        if (n == u.payroll.nRows) None
        else Some(s"fct rows $n != ${u.payroll.nRows}"))
      t.span("pipeline.counts") {
        t.attr("rows", rows.toDouble)
        t.attr("parquet_bytes", Dirs.bytes(warehouse).toDouble)
      }
    }
  }

  /** Split each traced `Pipeline.ingest` call into its model builds, from
    * the Spark jobs it ran: the stg model runs from the first job to the
    * end of the first parquet write, the fct model from there to the end
    * of the second. What is left of the ingest span (raw copy, read-back
    * and warehouse swap) is its self time.
    */
  private def splitIngest(ctx: Ctx): Unit = {
    val jobs = ctx.jobs.get.all
    val uploads = ctx.tracer.spans.filter(_.name == "upload")
      .map(s => s.id -> s.op).toMap
    ctx.tracer.spans.filter(_.name == "pipeline.ingest").foreach { ingest =>
      val industry = uploads(ingest.parent).stripPrefix("put-").takeWhile(_ != '#')
      val mine = jobs.filter(_.group == s"span-${ingest.id}")
      mine.filter(_.output > 0).map(_.end) match {
        case Seq(stgEnd, fctEnd) =>
          ctx.tracer.add(s"pipeline.$industry.stg", ingest,
            mine.map(_.submit).min, stgEnd)
          ctx.tracer.add(s"pipeline.$industry.fct", ingest, stgEnd, fctEnd)
        case writes => System.err.println(s"perfbench: ingest span " +
          s"${ingest.id} ran ${writes.size} parquet writes, not 2; not split")
      }
    }
  }

  private def tracedRead(ctx: Ctx, svc: Running, u: Payload, filename: String,
                         op: String, export: Boolean): Unit = {
    val t = ctx.tracer
    val id = clientId(u.industry)
    val pw = password(u.industry)
    val c = svc.client(u.industry)
    def fct(): DataFrame = {
      val tenant = t.span("tenancy.auth") {
        Tenancy.authenticate(Users, id, pw).fold(e => sys.error(e), identity)
      }
      ctx.spark.read.parquet(Tenancy.cleanDir(svc.storage, tenant, filename)
        .resolve(s"${u.industry}.fct_${u.industry}").toString)
    }
    if (export) t.span("read", s"export#$op") {
      ctx.op("export", "traced")(t.span("http.get_export") {
        val r = c.get(s"/files/$filename/export")
        t.attr("resp_bytes", r.bytes.toDouble)
        t.attr("batches_out", r.frames.length.toDouble)
        r
      })(checkExport(_, u.payroll))
      t.span("service.export_arrow") {
        ArrowBridge.toArrowBatchIterator(svc.service.fullExport(id, pw, filename))
          .foreach(_ => ())
      }
      val f = fct()
      t.span("reports.export") {
        Reports.fullExport(f).queryExecution.toRdd.foreach(_ => ())
      }
    } else t.span("read", s"report#$op") {
      ctx.op("report", "traced")(t.span("http.get_report") {
        val r = c.get(s"/files/$filename/report")
        t.attr("resp_bytes", r.bytes.toDouble)
        t.attr("batches_out", r.frames.length.toDouble)
        r
      })(checkReport(_, u.payroll))
      t.span("service.report_arrow") {
        svc.service.budgetReportArrow(id, pw, filename)
      }
      val f = fct()
      t.span("reports.budget") {
        Reports.budgetReport(f).queryExecution.toRdd.foreach(_ => ())
      }
      t.span("arrow.encode_report") {
        t.attr("batches_out",
          ArrowBridge.toArrowBatches(Reports.budgetReport(f)).length.toDouble)
      }
    }
  }
}
