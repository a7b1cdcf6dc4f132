package graft.sync

import java.net.{InetAddress, ServerSocket}
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.json4s._

import graft.SparkSpec
import graft.adapter.RestServer
import graft.chain.MetadataChain
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.MetadataEvent.{CheckpointRef, ExecuteTransform, TransformInputState}
import graft.operators.MergeStrategy
import graft.query.QueryService
import graft.sync.SyncService._

/** What every sync path shares: which objects a block references (a
  * set-watermark block references none), which block files a receiver
  * accepts from a peer, and which names it lets pick a local path. Each
  * case runs the FS, HTTP and smart paths, or a peer that lies. */
class TransferCoreSpec extends SparkSpec {
  import spark.implicits._
  import SmartProtocol._

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def mkDataset(name: String): Dataset = {
    val root = Files.createTempDirectory(s"graft-core-$name-")
    val ds = Dataset.create(spark, root, name)
    IngestWriter.writeBatch(ds, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      MergeStrategy.Ledger(Seq("id")), 1000L)
    ds
  }

  /** Appends an ExecuteTransform whose checkpoint directory `ckpt` holds
    * one file, `s.bin`. */
  private def withCheckpoint(ds: Dataset, ckpt: String): Unit = {
    val o = ds.chain.fs.create(new Path(new Path(ds.chain.checkpointsDir, ckpt), "s.bin"), true)
    o.write("state".getBytes("UTF-8")); o.close()
    ds.chain.append(ExecuteTransform(
      Seq(TransformInputState("up", None, Some(0L))), None,
      Some(CheckpointRef(ckpt, "unused", 5L))), 4000L)
  }

  private def tmpRoot(tag: String): Path =
    new Path(Files.createTempDirectory(s"graft-core-$tag-").resolve("ds").toUri)

  private def blockBytes(chain: MetadataChain, seq: Long, hash: String): Array[Byte] = {
    val in = chain.fs.open(new Path(chain.blocksDir, f"$seq%06d-$hash.json"))
    try in.readAllBytes() finally in.close()
  }

  /** REST (object transfer) + smart (WS negotiation) servers co-running;
    * `f` gets the ws and http bases. */
  private def withNode[T](
      initial: Map[String, Dataset],
      workspace: Option[java.nio.file.Path] = None
  )(f: (String, String) => T): T = {
    val rest = new RestServer(new QueryService(spark, initial), initial,
      workspaceRoot = workspace.map(_.toString)).start()
    val smart = new SmartTransferServer(rest).start()
    try f(s"ws://127.0.0.1:${smart.boundPort}", s"http://127.0.0.1:${rest.boundPort}")
    finally { smart.stop(); rest.stop() }
  }

  private def httpSend(method: String, url: String, body: Array[Byte]): (Int, String) = {
    val c = java.net.http.HttpClient.newHttpClient()
    val r = c.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .method(method, java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("a set-watermark block syncs over FS, HTTP pull/push and smart pull/push") {
    val src = mkDataset("wm")
    Maintenance.setWatermark(src, 5000L, 2000L)
    def sameAsSrc(root: Path, r: SyncResult): Unit = {
      val u = r.asInstanceOf[Updated]
      assert(u.numBlocks === 4 && u.dataFilesCopied === 1, u.toString) // the one real slice
      val copy = MetadataChain.open(root, hconf)
      assert(copy.blockHashes() === src.chain.blockHashes())
      assert(copy.watermark() === Some(5000L))
    }

    val fsCopy = tmpRoot("wm-fs")
    sameAsSrc(fsCopy, SyncService.sync(src.chain.root, fsCopy, hconf))
    withNode(Map(src.name -> src)) { (ws, http) =>
      val h = tmpRoot("wm-hpull")
      sameAsSrc(h, HttpSync.pull(http, "wm", h, hconf))
      val s = tmpRoot("wm-spull")
      sameAsSrc(s, SmartSync.pull(ws, "wm", s, hconf))
    }
    val node = Files.createTempDirectory("graft-core-wm-node-")
    withNode(Map.empty, workspace = Some(node)) { (ws, http) =>
      sameAsSrc(new Path(node.resolve("wmh").toUri), HttpSync.push(http, "wmh", src.chain.root, hconf))
      sameAsSrc(new Path(node.resolve("wms").toUri), SmartSync.push(ws, "wms", src.chain.root, hconf))
    }
  }

  test("smart push refuses a batch entry named outside blocks/; nothing lands there") {
    val src = mkDataset("esc")
    // a genuine block: its content address and declared seq both check out
    val (block, hash) = src.chain.blocksWithHashes()(1)
    val bytes = blockBytes(src.chain, block.sequenceNumber, hash)
    val evil = f"../../escape/${block.sequenceNumber}%06d-$hash.json"
    val node = Files.createTempDirectory("graft-core-esc-node-")
    withNode(Map.empty, workspace = Some(node)) { (ws, _) =>
      val c = new Ws.Client(s"$ws/datasets/esc/protocol/push")
      try {
        val opened = c.call(renderPushRequest(None, TransferPlan(1, 0, 0, 0, 0), force = false))
        assert(opened.contains("Ok"), opened)
        val answer = c.call(compact(JObject(
          "new_blocks" -> renderBlocksBatch(BlocksBatch(Seq(evil -> bytes))))))
        assert(answer.contains("Err") && answer.contains("not a valid block name"), answer)
      } finally c.close()
    }
    assert(!Files.exists(node.resolve("escape")))
    val staged = node.resolve("esc").resolve("blocks")
    assert(!Files.exists(staged) || Files.list(staged).count() === 0L)
  }

  test("smart pull refuses a strategy for an object it did not request") {
    val src = mkDataset("ckx")
    withCheckpoint(src, "ck1")
    val blocks = src.chain.blocksWithHashes()
    val rest = new RestServer(new QueryService(spark, Map(src.name -> src)),
      Map(src.name -> src)).start()
    val restBase = s"http://127.0.0.1:${rest.boundPort}"
    // a smart server honest in all but one answer: the checkpoint strategy
    // names "../../x" instead of the checkpoint the client asked for
    val fake = new ServerSocket(0, 5, InetAddress.getByName("127.0.0.1"))
    val serve = new Thread(() => {
      try {
        val sock = fake.accept()
        try {
          val in = new java.io.DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
          val out = new java.io.BufferedOutputStream(sock.getOutputStream)
          Ws.writeUpgradeResponse(out, Ws.readUpgradeRequest(in))
          Ws.readText(in, out) // pull request
          Ws.writeText(out, ok(JObject("transfer_plan" ->
            renderPlan(TransferPlan(blocks.size.toLong, 0, 0, 0, 0)))))
          Ws.readText(in, out) // metadata request
          Ws.writeText(out, compact(JObject("blocks" -> renderBlocksBatch(BlocksBatch(
            blocks.map { case (b, h) =>
              f"${b.sequenceNumber}%06d-$h.json" -> blockBytes(src.chain, b.sequenceNumber, h)
            })))))
          var next = Ws.readText(in, out)
          while (next.isDefined) {
            val strategies = parseObjectsRequest(next.get)._1.map { o =>
              val (ref, url) =
                if (o.objectType == "Checkpoint")
                  (o.copy(physicalHash = "../../x"),
                    s"$restBase/datasets/ckx/sync/checkpoints/${o.physicalHash}/bundle")
                else (o, s"$restBase/datasets/ckx/sync/data/${o.physicalHash}")
              JObject(
                "object_file" -> renderObjectRef(ref),
                "pull_strategy" -> JString("HttpDownload"),
                "download_from" -> renderTransferUrl(TransferUrl(url)))
            }
            Ws.writeText(out, ok(JObject("object_transfer_strategies" -> JArray(strategies.toList))))
            next = Ws.readText(in, out)
          }
        } finally sock.close()
      } catch { case _: Exception => () }
    })
    serve.setDaemon(true)
    serve.start()
    try {
      val tmp = Files.createTempDirectory("graft-core-ckx-")
      val local = new Path(tmp.resolve("ds").toUri)
      val e = intercept[IllegalArgumentException](
        SmartSync.pull(s"ws://127.0.0.1:${fake.getLocalPort}", "ckx", local, hconf))
      assert(e.getMessage.contains("unrequested"), e.getMessage)
      assert(!Files.exists(tmp.resolve("x")))
      assert(!MetadataChain.exists(local, hconf))
    } finally { fake.close(); rest.stop() }
  }

  test("POST sync/head refuses a head whose checkpoint directory was withheld") {
    val src = mkDataset("ckh")
    withCheckpoint(src, "ckh1")
    val node = Files.createTempDirectory("graft-core-ckh-node-")
    withNode(Map.empty, workspace = Some(node)) { (_, http) =>
      val b = s"$http/datasets/ckh"
      assert(httpSend("POST", s"$b/sync/create", Array.emptyByteArray)._1 === 200)
      val ph = src.chain.slices().head.physicalHash
      val din = src.chain.fs.open(src.chain.dataFile(ph))
      val slice = try din.readAllBytes() finally din.close()
      assert(httpSend("PUT", s"$b/sync/data/$ph", slice)._1 === 200)
      src.chain.blocksWithHashes().foreach { case (blk, h) =>
        val name = f"${blk.sequenceNumber}%06d-$h.json"
        assert(httpSend("PUT", s"$b/sync/blocks/$name",
          blockBytes(src.chain, blk.sequenceNumber, h))._1 === 200)
      }
      val (seq, hash) = src.chain.head.get
      val headBody = s"""{"seq":$seq,"hash":"$hash","prev":""}""".getBytes("UTF-8")
      val (code, body) = httpSend("POST", s"$b/sync/head", headBody)
      assert(code === 400 && body.contains("unstaged") && body.contains("ckh1"), s"$code $body")
      val served = MetadataChain.open(new Path(node.resolve("ckh").toUri), hconf)
      assert(served.head === None)
      // once the checkpoint files are uploaded the same head commits
      assert(httpSend("PUT", s"$b/sync/checkpoints/ckh1/file?path=s.bin",
        "state".getBytes("UTF-8"))._1 === 200)
      assert(httpSend("POST", s"$b/sync/head", headBody)._1 === 200)
      assert(served.head === Some((seq, hash)))
    }
  }
}
