package graft

import graft.etl.{Deploy, ExportPipeline, Segmenter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Export writers, segmenter contract, and driver-side deployment. */
class ExportDeploySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("CSV writer round-trip with quoting knobs") {
    val out = tmp("graft-csv") + "/out"
    val df = Seq((1, "plain"), (2, "with;sep"), (3, "with \"q\"")).toDF("id", "v")
    ExportPipeline.writeCsv(df, out, delimiter = ";", quoteAll = true)
    val back = spark.read.option("sep", ";").option("header", true)
      .option("escape", "\"").csv(out)
    val got = back.collect().map(r => r.getString(0).toInt -> r.getString(1)).toMap
    assert(got == Map(1 -> "plain", 2 -> "with;sep", 3 -> "with \"q\""))
  }

  test("maxRecordsPerFile segments output files (export segment contract)") {
    val out = tmp("graft-seg") + "/out"
    ExportPipeline.writeJson(spark.range(250).toDF("id"), out,
      recordsPerFile = Some(100))
    val files = Deploy.outputFiles(out).filter(_.toString.endsWith(".json"))
    assert(files.size >= 3) // 250 rows / 100 per file
  }

  test("nestChildren groups child rows as array-of-structs") {
    val parent = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val child = Seq((1L, 10.0), (1L, 20.0), (2L, 30.0)).toDF("pid", "amount")
    val nested = ExportPipeline.nestChildren(parent, child, "id", "pid", "items")
    val byId = nested.collect().map(r => r.getLong(0) ->
      Option(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("items")))).toMap
    assert(byId(1L).get.map(_.getDouble(0)).sorted == Seq(10.0, 20.0))
    assert(byId(3L).isEmpty || byId(3L).get.isEmpty)
  }

  test("XML writer round-trip: nested structs become nested elements") {
    val parent = Seq((1L, "Läufer & Co"), (2L, "b<c>"), (3L, "plain")).toDF("id", "name")
    val child = Seq((1L, 10.0), (1L, 20.0), (2L, 30.0)).toDF("pid", "amount")
    val nested = ExportPipeline.nestChildren(parent, child, "id", "pid", "items")
    val out = java.nio.file.Files.createTempDirectory("graft-xml").toString + "/feed"
    ExportPipeline.writeXml(nested, out, rowTag = "product", rootTag = "products")
    // raw document sanity: declaration + row tags + escaped content
    // (one XML document PER PARTITION file — inspect them all)
    val text = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".xml")).sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString("\n")
    assert(text.contains("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"))
    assert(text.contains("<products>") && text.contains("<product>"))
    assert(text.contains("b&lt;c>")) // markup-significant chars escaped (> is legal unescaped)
    // read-back equality on ids/names and nested amounts
    val back = ExportPipeline.readXml(spark, out, rowTag = "product")
    val byId = back.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      r.getString(r.fieldIndex("name"))).toMap
    assert(byId == Map(1L -> "Läufer & Co", 2L -> "b<c>", 3L -> "plain"))
  }

  test("segmenter assigns 0-based fixed-size segments with stats") {
    val seg = Segmenter.byPosition((1 to 250).toDF("k"), Seq(col("k")), 100)
    val stats = Segmenter.segmentStats(seg, "k").collect()
    assert(stats.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(stats.map(_.getLong(1)).toSeq == Seq(100L, 100L, 50L))
    assert(stats.last.getInt(3) == 250)
  }

  test("zipPosition: monotonically_increasing_id is partitionId·2³³ + " +
      "local index, and positions are non-null and gap-free") {
    val df = spark.range(0, 40, 1, 4).toDF("k")
    val ids = df.select(spark_partition_id(), monotonically_increasing_id())
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(ids.map(_._1).distinct.length == 4)
    ids.groupBy(_._1).foreach { case (p, rs) =>
      assert(rs.map(_._2).toSeq == rs.indices.map(i => (p.toLong << 33) + i))
    }
    val pos = Segmenter.zipPosition(df, "pos")
    assert(!pos.schema("pos").nullable)
    val rows = pos.collect()
    assert(rows.length == 40 && rows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("folder publisher + zip archive deployment") {
    val out = tmp("graft-dep") + "/out"
    ExportPipeline.writeCsv(Seq((1, "x")).toDF("id", "v"), out)
    val target = tmp("graft-dep-target")
    new Deploy.FolderPublisher(target).publish(Deploy.outputFiles(out))
    assert(Deploy.outputFiles(target).nonEmpty)
    val zip = Deploy.zipOutput(out, tmp("graft-zip") + "/export.zip")
    assert(Files.size(zip) > 0)
  }

  test("provider registry dispatches formats and rejects unknown ones") {
    import graft.etl.{ExportPipeline => EP, Providers}
    assert(Providers.names == Seq("csv", "json", "orc", "parquet", "xml"))
    val out = tmp("graft-prov") + "/out"
    Providers.export(Seq((1, "a"), (2, "b")).toDF("id", "v"),
      EP.Profile(orderBy = Seq(col("id"))), "json", out)
    assert(spark.read.json(out).count() == 2)
    val orcOut = tmp("graft-prov-orc") + "/out"
    Providers.export(Seq((1, "a"), (2, "b")).toDF("id", "v"),
      EP.Profile(orderBy = Seq(col("id"))), "orc", orcOut)
    assert(spark.read.orc(orcOut).orderBy(col("id")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
    intercept[IllegalArgumentException](Providers("xml-unknown"))
    Providers.register("nullsink", (_, _, _) => ())
    Providers("nullsink")(Seq((1, "a")).toDF("id", "v"), "/dev/null", None)
  }

  test("download source: file-URI fetch + distributed binaryFile read") {
    import graft.etl.Download
    val src = tmp("graft-dl-src")
    java.nio.file.Files.writeString(Paths.get(src, "a.bin"), "payload-a")
    java.nio.file.Files.writeString(Paths.get(src, "b.bin"), "payload-b")
    val staged = tmp("graft-dl-staged")
    val res = Download.fetchAll(
      Seq(s"file://$src/a.bin", s"file://$src/b.bin", "https://x/y.bin"), staged)
    assert(res.count(_._3) == 2 && !res.last._3)
    val bin = Download.readBinary(spark, staged)
    assert(bin.count() == 2)
    assert(bin.columns.toSet == Set("path", "modificationTime", "length", "content"))
  }

  test("download source: real HTTP GET against a loopback server") {
    import graft.etl.Download
    // the container has no egress, but the HTTP client path is fully
    // exercised against a localhost server (JDK built-in HttpServer)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val payload = "id;v\n1;a\n2;b\n".getBytes("UTF-8")
    server.createContext("/data.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, payload.length.toLong)
      ex.getResponseBody.write(payload); ex.close()
    })
    server.createContext("/missing.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val staged = tmp("graft-dl-http")
      val res = Download.fetchAll(Seq(
        s"http://127.0.0.1:$port/data.csv",
        s"http://127.0.0.1:$port/missing.csv"), staged)
      assert(res.head._3, "200 fetch must succeed")
      assert(!res(1)._3, "404 marks the ITEM failed, not the batch")
      val text = new String(java.nio.file.Files.readAllBytes(
        Paths.get(res.head._2)), "UTF-8")
      assert(text == "id;v\n1;a\n2;b\n")
      // staged file flows into the ordinary distributed CSV read
      val df = graft.etl.CsvSource.read(spark, res.head._2)
      assert(df.count() == 2 && df.columns.toSeq == Seq("id", "v"))
    } finally server.stop(0)
  }

  test("HTTP publisher: multipart carries every file in one POST; simple posts per file") {
    import graft.etl.Deploy
    val requests = new java.util.concurrent.CopyOnWriteArrayList[(String, Array[Byte])]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/up", (ex: com.sun.net.httpserver.HttpExchange) => {
      requests.add((ex.getRequestHeaders.getFirst("Content-Type"),
        ex.getRequestBody.readAllBytes()))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.createContext("/forbidden", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(403, -1); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val dir = tmp("graft-http-deploy")
      java.nio.file.Files.writeString(Paths.get(dir, "part-0.csv"), "a;1")
      java.nio.file.Files.writeString(Paths.get(dir, "part-1.csv"), "b;2")
      val files = Deploy.outputFiles(dir)
      // multipart: ONE request, both filenames and payloads in the body
      new Deploy.HttpPublisher(s"127.0.0.1:$port/up").publish(files)
      assert(requests.size == 1)
      val (ct, body) = (requests.get(0)._1, new String(requests.get(0)._2, "UTF-8"))
      assert(ct.startsWith("multipart/form-data; boundary="))
      assert(body.contains("filename=\"part-0.csv\"") && body.contains("a;1"))
      assert(body.contains("filename=\"part-1.csv\"") && body.contains("b;2"))
      assert(body.contains("name=\"file 1\"") && body.contains("name=\"file 2\""))
      // simple mode: one POST per file
      requests.clear()
      new Deploy.HttpPublisher(s"http://127.0.0.1:$port/up", multipart = false)
        .publish(files)
      assert(requests.size == 2)
      // non-2xx fails the deployment
      intercept[IllegalArgumentException] {
        new Deploy.HttpPublisher(s"127.0.0.1:$port/forbidden").publish(files)
      }
    } finally server.stop(0)
  }

  test("file name pattern expansion") {
    assert(Deploy.expandFileName("%profile%-%seq%-%timestamp%.csv",
      "orders", 7, "20260812") == "orders-0007-20260812.csv")
  }

  test("FTP publisher: real protocol round-trip against a loopback server") {
    val ftp = new LoopbackFtp("deploy", "secret")
    try {
      val dir = tmp("graft-ftp-deploy")
      java.nio.file.Files.writeString(Paths.get(dir, "feed-0.csv"), "a;1\nb;2")
      // binary payload proves TYPE I streaming is byte-exact
      val binary = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
      java.nio.file.Files.write(Paths.get(dir, "feed-1.bin"), binary)
      val files = Deploy.outputFiles(dir)
      new Deploy.FtpPublisher(
        s"ftp://127.0.0.1:${ftp.port}/exports/shop", "deploy", "secret")
        .publish(files)
      // rootPath gets its trailing slash appended, like the reference
      assert(new String(ftp.stored.get("/exports/shop/feed-0.csv"), "UTF-8")
        == "a;1\nb;2")
      assert(ftp.stored.get("/exports/shop/feed-1.bin").toSeq == binary.toSeq)
    } finally ftp.close()
  }

  test("FTP publisher: missing scheme defaults to ftp://, bad login fails") {
    val ftp = new LoopbackFtp("deploy", "secret")
    try {
      val dir = tmp("graft-ftp-auth")
      java.nio.file.Files.writeString(Paths.get(dir, "f.csv"), "x")
      val files = Deploy.outputFiles(dir)
      new Deploy.FtpPublisher(s"127.0.0.1:${ftp.port}/out", "deploy", "secret")
        .publish(files)
      assert(ftp.stored.containsKey("/out/f.csv"))
      val ex = intercept[IllegalArgumentException] {
        new Deploy.FtpPublisher(s"127.0.0.1:${ftp.port}/out", "deploy", "WRONG")
          .publish(files)
      }
      assert(ex.getMessage.contains("530"))
    } finally ftp.close()
  }

  test("email publisher queues one message per valid recipient with blob attachments") {
    val dir = tmp("graft-mail-deploy")
    java.nio.file.Files.writeString(Paths.get(dir, "feed.csv"), "id;v\n1;a")
    java.nio.file.Files.writeString(Paths.get(dir, "feed.xml"), "<products/>")
    val files = Deploy.outputFiles(dir)
    val q = new Deploy.InMemoryEmailQueue
    new Deploy.EmailPublisher(q,
      "ops@example.com, not-an-email, second@example.com",
      from = "shop@example.com", subject = "Nightly feed").publish(files)
    val mails = q.queued.toArray(Array.empty[Deploy.QueuedEmail])
    assert(mails.map(_.to).toSeq == Seq("ops@example.com", "second@example.com"))
    val m = mails.head
    assert(m.from == "shop@example.com")
    assert(m.subject == "Nightly feed" && m.body == "Nightly feed")
    assert(m.attachments.map(a => a.name -> a.mimeType).toMap ==
      Map("feed.csv" -> "text/csv", "feed.xml" -> "application/xml"))
    assert(new String(m.attachments.head.blob, "UTF-8") == "id;v\n1;a")
    // empty subject becomes n/a for subject AND body (the reference quirk)
    val q2 = new Deploy.InMemoryEmailQueue
    new Deploy.EmailPublisher(q2, "ops@example.com", "shop@example.com", "")
      .publish(files)
    val n = q2.queued.peek()
    assert(n.subject == "n/a" && n.body == "n/a")
    // no valid recipients → publish is a silent no-op
    val q3 = new Deploy.InMemoryEmailQueue
    new Deploy.EmailPublisher(q3, "nope, also@nope", "shop@example.com", "s")
      .publish(files)
    assert(q3.queued.isEmpty)
  }

  test("FTPS publisher: AUTH TLS control upgrade + PROT P data channel round-trip") {
    // self-signed loopback certificate via the JDK's own keytool
    val ksPath = java.nio.file.Files.createTempDirectory("ftps").resolve("ks.p12")
    val keytool = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "keytool").toString
    val gen = new ProcessBuilder(keytool, "-genkeypair", "-alias", "ftps",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath.toString, "-storepass", "changeit",
      "-dname", "CN=localhost", "-validity", "1").redirectErrorStream(true).start()
    assert(gen.waitFor() == 0, "keytool keypair generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = java.nio.file.Files.newInputStream(ksPath)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val serverCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    val clientCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null) // pins the loopback cert

    val payload = Array.tabulate[Byte](4096)(i => (i * 13 % 251).toByte)
    val dir = java.nio.file.Files.createTempDirectory("ftpsout")
    val f = dir.resolve("export.bin")
    java.nio.file.Files.write(f, payload)
    val server = new LoopbackFtp("deploy", "secret", Some(serverCtx))
    try {
      new Deploy.FtpPublisher(s"ftps://127.0.0.1:${server.port}/drop",
        "deploy", "secret", Some(clientCtx)).publish(Seq(f))
      assert(server.stored.containsKey("/drop/export.bin"))
      assert(server.stored.get("/drop/export.bin").sameElements(payload))
      // wrong password still fails cleanly over TLS
      intercept[IllegalArgumentException] {
        new Deploy.FtpPublisher(s"ftps://127.0.0.1:${server.port}/drop",
          "deploy", "WRONG", Some(clientCtx)).publish(Seq(f))
      }
      // an untrusting client refuses the self-signed peer (the trust
      // seam actually verifies — no silent trust-all)
      val strict = javax.net.ssl.SSLContext.getInstance("TLS")
      strict.init(null, null, null) // platform default trust
      intercept[Exception] {
        new Deploy.FtpPublisher(s"ftps://127.0.0.1:${server.port}/drop",
          "deploy", "secret", Some(strict)).publish(Seq(f))
      }
    } finally server.close()
  }

  test("feed-xml provider: registry dispatch, g: namespace, field round-trip") {
    import graft.etl.FeedXml
    val out = tmp("feedxml")
    val items = Seq(
      (7L, "Widget", "SKU-7", "BrandA", "New", 3, false, 19.99, "BrandA"),
      (8L, "Gadget", null.asInstanceOf[String], "BrandB", "Used", 0, true, 5.5, "BrandB"),
      (9L, "Gizmo", "SKU-9", "BrandB", "Refurbished", -2, false, 100.0, "BrandB"))
      .toDF("id", "title", "sku", "brand", "condition", "stock", "preorder",
        "price", "group_id")
    FeedXml.install()
    // dispatch through the registry like any other format provider
    graft.etl.Providers("feed-xml")(items, out, None)
    val raw = graft.etl.Deploy.outputFiles(out)
      .map(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      .mkString("\n")
    // the root channel declares the google namespace; items carry g: fields
    assert(raw.contains("xmlns:g=\"http://base.google.com/ns/1.0\""))
    assert(raw.contains("<g:availability>") && raw.contains("<g:price>"))
    val back = ExportPipeline.readXml(spark, out, rowTag = "item")
    assert(back.count() == 3)
    val byId = back.collect().map(r =>
      r.getAs[Any]("g:id").toString -> r).toMap
    // null SKU falls back to the id (UsesSkuAsMpnFallback)
    assert(byId("8").getAs[String]("g:mpn") == "8")
    assert(byId("7").getAs[String]("g:mpn") == "SKU-7")
    // condition + availability mappings
    assert(byId("8").getAs[String]("g:condition") == "used")
    assert(byId("9").getAs[String]("g:condition") == "refurbished")
    assert(byId("8").getAs[String]("g:availability") == "preorder")
    assert(byId("9").getAs[String]("g:availability") == "out of stock")
    assert(byId("7").getAs[String]("g:availability") == "in stock")
    // invariant money string with the configured currency
    assert(byId("8").getAs[String]("g:price") == "5.50 EUR")
    assert(byId("7").getAs[String]("link") == "https://shop.example/p/7")
  }

  test("completion-email recipient cascade: profile addresses, company " +
      "fallback, account fallback (DataExporter.cs:1471-1487)") {
    import graft.etl.ExportCapstone.completionRecipients
    assert(completionRecipients("a@x.com, junk, b@y.org",
      Some("co@z.com"), "acct@z.com") == Seq("a@x.com", "b@y.org"))
    assert(completionRecipients("junk, also junk",
      Some("co@z.com"), "acct@z.com") == Seq("co@z.com"))
    assert(completionRecipients("", None, "acct@z.com") == Seq("acct@z.com"))
    // file-name token resolution (deterministic subset)
    import graft.etl.ExportCapstone.resolveFileNamePattern
    assert(resolveFileNamePattern(
      "%Profile.SeoName%-%Store.Id%-%File.Index%", 7, "my-feed",
      perStore = true, storeId = 3, storeSeo = "shop3", fileIndex = 12)
      == "myfeed-3-0012")
    assert(resolveFileNamePattern("%Store.SeoName%", 7, "f",
      perStore = false, storeId = 3, storeSeo = "shop3", fileIndex = 1)
      == "allstores")
  }

  test("export capstone side effects: deployed segment files respect the " +
      "100-record contract; the completion email queues the file list") {
    val dir = "/root/testdata/sf0.001"
    graft.etl.ExportCapstone.completionQueue.queued.clear()
    val out = graft.etl.ExportCapstone.exportCapstone(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val nFiles = rows.head.getAs[Long]("n_files")
    val root = graft.etl.SheetStage.dirFor(dir, "export_capstone")
    val deployed = Deploy.outputFiles(s"$root/deploy")
    assert(deployed.size.toLong == nFiles, s"deployed=${deployed.size}")
    // each deployed file: header + ≤100 data rows; totals match the output
    val counts = deployed.map(f => Files.readAllLines(f).size() - 1)
    assert(counts.forall(c => c >= 1 && c <= 100), counts.toString)
    assert(counts.sum == rows.length)
    // the export dir was cleaned up after a successful deploy
    assert(Files.exists(
      Paths.get(s"$root/orders-feed.zip")))
    // one queued completion email per resolved recipient, body = zip + files
    val q = graft.etl.ExportCapstone.completionQueue.queued
    assert(!q.isEmpty)
    val mail = q.peek()
    assert(mail.to == "ops@example.com")
    assert(mail.subject == "Export completed: orders-feed")
    assert(mail.body.linesIterator.next() == "orders-feed.zip")
    assert(mail.body.linesIterator.size.toLong == nFiles + 1)
  }
}
