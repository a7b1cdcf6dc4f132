package graft.sync

import java.io.DataInputStream
import java.net.{InetAddress, ServerSocket, Socket}

import org.json4s._

import graft.adapter.RestServer
import graft.chain.MetadataChain

/**
 * Server half of the Smart Transfer Protocol — the phased WebSocket
 * negotiation the reference uses for node-to-node dataset sync
 * (reference: `src/adapter/http/src/smart_protocol/axum_server_pull_protocol
 * .rs:108-348`, `axum_server_push_protocol.rs:182-577`). Listens on its own
 * 127.0.0.1 socket (the JDK HttpServer backing [[RestServer]] cannot hijack
 * connections for an upgrade) and routes
 * `GET /datasets/<name>/protocol/pull|push` upgrades; the heavy bytes never
 * travel over the socket — object transfer strategies point the peer at the
 * Simple Transfer endpoints of the co-running [[RestServer]]
 * (`HttpDownload`/`HttpUpload`, messages.rs:104-108,246-251), so the WS
 * session carries only the negotiation and the packed metadata batch.
 *
 * Pull: DatasetPullRequest → transfer plan ([[SmartProtocol.planOf]]) →
 * (metadata request → tar.gz blocks batch) → objects requests → download
 * strategies, until the client closes. Push: DatasetPushRequest (CAS
 * against the served head) → metadata batch staged (each block through
 * [[MetadataChain.acceptBlock]]) → objects requests → upload strategies
 * (`SkipUpload` for staged objects — resume for free) → upload-progress
 * responses until Complete → DatasetPushComplete → validated head commit
 * (`RestServer.syncCommitHead`, shared with the HTTP push surface: linked
 * chain, staged objects, fast-forward/CAS) → confirmation.
 */
final class SmartTransferServer(rest: RestServer, port: Int = 0) {
  import SmartProtocol._

  private val serverSocket = new ServerSocket(port, 50, InetAddress.getByName("127.0.0.1"))
  @volatile private var running = true
  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  /** One thread per live protocol session, hard-capped — a flood of opens
    * gets a polite 503 instead of unbounded threads. */
  private val MaxConcurrentSessions = 64

  def boundPort: Int = serverSocket.getLocalPort

  /** HTTP base of the co-running REST server — where transfer URLs point. */
  private def httpBase: String = s"http://127.0.0.1:${rest.boundPort}"

  def start(): SmartTransferServer = {
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = serverSocket.accept()
          if (open.size >= MaxConcurrentSessions) {
            try {
              Ws.writeRejectResponse(sock.getOutputStream, 503, "too many sessions")
              sock.close()
            } catch { case _: Exception => () }
          } else {
          open.add(sock)
          val worker = new Thread(() => {
            try handleConnection(sock)
            catch { case _: Exception => () } // connection-scoped; peer sees the close
            finally { open.remove(sock); try sock.close() catch { case _: Exception => () } }
          }, s"smart-transfer-conn-${sock.getPort}")
          worker.setDaemon(true)
          worker.start()
          }
          // stop() closing the socket lands here too; a PERSISTENT accept
          // failure (fd exhaustion) must back off instead of busy-spinning
        } catch { case _: Exception => if (running) Thread.sleep(50) }
      }
    }, "smart-transfer-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    this
  }

  def stop(): Unit = {
    running = false
    try serverSocket.close() catch { case _: Exception => () }
    open.forEach(s => try s.close() catch { case _: Exception => () })
  }

  // ------------------------------------------------------------ connection

  private def handleConnection(sock: Socket): Unit = {
    val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
    val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    val req = Ws.readUpgradeRequest(in)
    // /datasets/<name...>/protocol/<pull|push>; the name may span segments
    // (multi-tenant account/name refs) and each segment is percent-decoded
    val segs = req.path.takeWhile(_ != '?').split("/").toSeq.filter(_.nonEmpty)
      .map(java.net.URLDecoder.decode(_, "UTF-8"))
    val route =
      if (segs.size >= 4 && segs.head == "datasets" && segs(segs.size - 2) == "protocol"
          && (segs.last == "pull" || segs.last == "push"))
        Some((segs.slice(1, segs.size - 2).mkString("/"), segs.last))
      else None
    route match {
      case None =>
        Ws.writeRejectResponse(out, 404, s"no such protocol endpoint: ${req.path}")
      case Some((name, mode)) =>
        Ws.writeUpgradeResponse(out, req)
        try {
          if (mode == "pull") servePull(name, in, out) else servePush(name, in, out)
        } finally Ws.writeClose(out)
    }
  }

  private def internalErr(phase: String, message: String): String =
    err("Internal", JObject(
      "phase" -> JString(phase), "error_message" -> JString(message)))

  // ------------------------------------------------------------------ pull

  private def servePull(name: String, in: DataInputStream, out: java.io.OutputStream): Unit = {
    val first = Ws.readText(in, out).getOrElse(return)
    val (beginAfter, stopAt, _) = parsePullRequest(first)

    val chain = rest.syncReadChain(name).getOrElse {
      Ws.writeText(out, internalErr("Pull(InitialRequest)", s"unknown dataset $name"))
      return
    }
    val all = chain.blocksWithHashes() // the reachable chain, oldest-first
    if (all.isEmpty) {
      Ws.writeText(out, internalErr("Pull(InitialRequest)", s"dataset $name has no history"))
      return
    }
    val hashes = all.map(_._2)
    val stopIdx = stopAt match {
      case None    => all.size - 1
      case Some(h) => hashes.indexOf(h)
    }
    val beginIdx = beginAfter match {
      case None    => -1
      case Some(h) => hashes.indexOf(h) match { case -1 => -2; case i => i }
    }
    if (stopIdx < 0 || beginIdx == -2 || beginIdx > stopIdx) {
      // the requested interval is not a sub-chain of served history —
      // the client is ahead/diverged (messages.rs:55-60 InvalidInterval)
      Ws.writeText(out, err("InvalidInterval", JObject(
        "head" -> JString(hashes.last), "tail" -> JString(hashes.head))))
      return
    }
    val pending = all.slice(beginIdx + 1, stopIdx + 1)

    Ws.writeText(out, ok(JObject("transfer_plan" -> renderPlan(planOf(chain, pending)._1))))

    if (pending.nonEmpty) {
      // metadata phase: one tar.gz batch of the pending block files
      if (Ws.readText(in, out).isEmpty) return // DatasetPullMetadataRequest {}
      val blockBytes = pending.map { case (b, h) =>
        val name = MetadataChain.blockFileName(b.sequenceNumber, h)
        val fin = chain.fs.open(new org.apache.hadoop.fs.Path(chain.blocksDir, name))
        try name -> fin.readAllBytes() finally fin.close()
      }
      Ws.writeText(out, compact(JObject(
        "blocks" -> renderBlocksBatch(BlocksBatch(blockBytes)))))
    }

    // objects phase: any number of transfer requests until the client closes
    var next = Ws.readText(in, out)
    while (next.isDefined) {
      val (objs, _) = parseObjectsRequest(next.get)
      val strategies = objs.map { o =>
        val url = o.objectType match {
          case "Checkpoint" =>
            s"$httpBase/datasets/$name/sync/checkpoints/${o.physicalHash}/bundle"
          case _ => s"$httpBase/datasets/$name/sync/data/${o.physicalHash}"
        }
        JObject(
          "object_file" -> renderObjectRef(o),
          "pull_strategy" -> JString("HttpDownload"),
          "download_from" -> renderTransferUrl(TransferUrl(url)))
      }
      Ws.writeText(out, ok(JObject(
        "object_transfer_strategies" -> JArray(strategies.toList))))
      next = Ws.readText(in, out)
    }
  }

  // ------------------------------------------------------------------ push

  private def servePush(name: String, in: DataInputStream, out: java.io.OutputStream): Unit = {
    val first = Ws.readText(in, out).getOrElse(return)
    val (clientHead, _plan, force) = parsePushRequest(first)

    val actualHead = rest.syncPushChain(name).flatMap(_.head).map(_._2)
    if (actualHead != clientHead && !force) {
      // CAS failure: tell the client what the head actually is so it can
      // re-plan (messages.rs:143-149 DatasetPushInvalidHeadError)
      Ws.writeText(out, err("InvalidHead", JObject(
        "actual_head" -> actualHead.fold[JValue](JNull)(JString(_)),
        "expected_head" -> clientHead.fold[JValue](JNull)(JString(_)))))
      return
    }
    Ws.writeText(out, ok(JObject()))

    // metadata phase: stage every pushed block that MetadataChain.acceptBlock
    // accepts; the head moves only at the complete phase
    val metaMsg = Ws.readText(in, out).getOrElse(return)
    val batch = parseBlocksBatch(parse(metaMsg) \ "new_blocks")
    val chain: MetadataChain = rest.syncPushChain(name) match {
      case Some(c) => c
      case None =>
        rest.syncCreateDataset(name) match {
          case Right(c) => c
          case Left(e)  =>
            Ws.writeText(out, internalErr("Push(EnsuringTargetExists)", e))
            return
        }
    }
    var lastBlock: Option[(Long, String)] = None
    batch.blocks.foreach { case (blockName, bytes) =>
      val (block, hash) =
        try MetadataChain.acceptBlock(blockName, bytes)
        catch {
          case e: Exception =>
            Ws.writeText(out, internalErr("Push(MetadataRequest)", e.getMessage))
            return
        }
      chain.writeObjectAtomic(new org.apache.hadoop.fs.Path(chain.blocksDir, blockName), bytes)
      lastBlock = Some((block.sequenceNumber, hash))
    }
    Ws.writeText(out, ok(JObject()))

    // objects phase (only when blocks arrived — an empty push has nothing
    // to stage); each request answered with per-object strategies, then
    // progress responses read until Complete; `is_truncated` keeps the loop
    if (batch.blocks.nonEmpty) {
      var truncated = true
      while (truncated) {
        val msg = Ws.readText(in, out).getOrElse(return)
        val (objs, isTrunc) = parseObjectsRequest(msg)
        val strategies = objs.map { o =>
          val staged = o.objectType match {
            case "Checkpoint" =>
              chain.fs.exists(new org.apache.hadoop.fs.Path(chain.checkpointsDir, o.physicalHash))
            case _ => chain.fs.exists(chain.dataFile(o.physicalHash))
          }
          val uploadTo: JValue =
            if (staged) JNull // SkipUpload: content-addressed resume for free
            else {
              val url = o.objectType match {
                case "Checkpoint" =>
                  s"$httpBase/datasets/$name/sync/checkpoints/${o.physicalHash}/bundle"
                case _ => s"$httpBase/datasets/$name/sync/data/${o.physicalHash}"
              }
              renderTransferUrl(TransferUrl(url))
            }
          JObject(
            "object_file" -> renderObjectRef(o),
            "push_strategy" -> JString(if (staged) "SkipUpload" else "HttpUpload"),
            "upload_to" -> uploadTo)
        }
        Ws.writeText(out, ok(JObject(
          "object_transfer_strategies" -> JArray(strategies.toList))))
        var uploading = true
        while (uploading) {
          val progress = Ws.readText(in, out).getOrElse(return)
          (parse(progress) \ "details") match {
            case JString("Complete") => uploading = false
            case _                   => () // Running(...) notification
          }
        }
        truncated = isTrunc
      }
    }

    // complete phase: validated commit, then confirmation
    if (Ws.readText(in, out).isEmpty) return // DatasetPushComplete {}
    lastBlock match {
      case None => Ws.writeText(out, compact(JObject())) // nothing new: confirm
      case Some((seq, hash)) =>
        rest.syncCommitHead(name, seq, hash, Some(clientHead.getOrElse("")), force) match {
          case Right(()) => Ws.writeText(out, compact(JObject()))
          case Left((_, msg)) =>
            Ws.writeText(out, internalErr("Push(CompleteRequest)", msg))
        }
    }
  }
}
