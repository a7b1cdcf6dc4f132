package graft.sync

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.json4s._

import graft.chain.MetadataChain

/**
 * Client half of the Smart Transfer Protocol (reference:
 * `src/adapter/http/src/smart_protocol/ws_tungstenite_client.rs:1-1046`) —
 * WebSocket negotiation over the JDK client, bulk bytes over HTTP on a
 * bounded pool. Pull asks for the delta after the LOCAL head (`begin_after`,
 * the server answers `InvalidInterval` when that head is not in its history
 * — i.e. local is ahead or diverged); push opens with a CAS guess of the
 * server head and re-plans once off the `InvalidHead` answer (the reference's
 * "client's data on what the head is got out of date" flow,
 * messages.rs:143-149).
 *
 * Same object discipline as [[HttpSync]]: every downloaded block passes
 * [[MetadataChain.acceptBlock]] and the delta [[MetadataChain.requireLinked]],
 * every object is verified against its content address and lands only under
 * the name the client asked for, staging is write-temp+rename (a
 * present file is complete — crash resume for free), blocks land after the
 * objects they reference, and the head ref moves last (pull) or through the
 * server's validated CAS commit (push).
 */
object SmartSync {
  import SmartProtocol._

  /** Default object refs per ObjectsRequest message — bounds negotiation
    * message size on thousands-of-slices datasets (push pages via
    * `is_truncated`, pull by issuing successive requests). */
  val DefaultObjectBatchSize = 1000

  /** `ws://host:port` (or `http://` — normalized) base of the smart endpoint. */
  private def wsUri(base: String, dataset: String, mode: String): String = {
    val b = base.stripSuffix("/")
      .replaceFirst("^http://", "ws://").replaceFirst("^https://", "wss://")
    s"$b/datasets/$dataset/protocol/$mode"
  }

  private def get(client: HttpClient, url: String): java.io.InputStream = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    if (resp.statusCode() != 200) {
      try resp.body().close() catch { case _: Exception => () }
      throw new IllegalArgumentException(s"GET $url -> HTTP ${resp.statusCode()}")
    }
    resp.body()
  }

  private def putStream(
      client: HttpClient, url: String, open: () => java.io.InputStream): Unit = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url))
        .method("PUT", HttpRequest.BodyPublishers.ofInputStream(() => open()))
        .build(),
      HttpResponse.BodyHandlers.ofByteArray())
    require(resp.statusCode() == 200,
      s"PUT $url -> HTTP ${resp.statusCode()}: ${new String(resp.body(), UTF_8)}")
  }

  /** Compare the local chain against a smart-served one WITHOUT transferring
    * objects, using only protocol probes: a pull-plan request after our head
    * answers Equal (`num_blocks == 0`) or Behind; when the server does not
    * know our head (`InvalidInterval`), a push CAS probe (`current_head` =
    * our head, which the server rejects with its actual head) tells Ahead
    * (server head is in our history) from Diverged. The Diverged counts are
    * conservative (the protocol never enumerates remote hashes). */
  def status(
      baseUrl: String,
      dataset: String,
      localRoot: Path,
      conf: Configuration
  ): SyncService.ChainsStatus = {
    val localBlocks =
      if (MetadataChain.exists(localRoot, conf))
        MetadataChain.open(localRoot, conf).blocksWithHashes()
      else Nil
    val localHead = localBlocks.lastOption.map(_._2)

    val pullProbe = new Ws.Client(wsUri(baseUrl, dataset, "pull"))
    val remotePlan: Option[TransferPlan] =
      try {
        val parsed = parse(pullProbe.call(renderPullRequest(localHead, None, force = false)))
        (parsed \ "Ok") match {
          case JNothing if (parsed \ "Err" \ "InvalidInterval") != JNothing => None
          case JNothing => throw new SmartProtocolException("Pull(InitialRequest)", compact(parsed))
          case okBody   => Some(parsePlan(okBody \ "transfer_plan"))
        }
      } finally pullProbe.close()

    remotePlan match {
      case Some(plan) if plan.numBlocks == 0 => SyncService.Equal
      case Some(plan)                        => SyncService.Behind(plan.numBlocks.toInt)
      case None =>
        val pushProbe = new Ws.Client(wsUri(baseUrl, dataset, "push"))
        try {
          val parsed = parse(pushProbe.call(
            renderPushRequest(localHead, TransferPlan(0, 0, 0, 0, 0), force = false)))
          (parsed \ "Err" \ "InvalidHead" \ "actual_head") match {
            case JString(remoteHead) =>
              val idx = localBlocks.indexWhere(_._2 == remoteHead)
              if (idx >= 0) SyncService.Ahead(localBlocks.drop(idx + 1))
              else SyncService.Diverged(1, localBlocks.size)
            case _ => SyncService.Ahead(localBlocks) // remote chain is empty
          }
        } finally pushProbe.close()
    }
  }

  // ------------------------------------------------------------------ pull

  def pull(
      baseUrl: String,
      dataset: String,
      localRoot: Path,
      conf: Configuration,
      force: Boolean = false,
      client: HttpClient = HttpClient.newHttpClient(),
      parallelism: Int = 8,
      objectBatchSize: Int = DefaultObjectBatchSize
  ): SyncService.SyncResult = {
    val exists = MetadataChain.exists(localRoot, conf)
    val local = if (exists) MetadataChain.open(localRoot, conf)
                else MetadataChain.create(localRoot, conf)
    val localBlocks = if (exists) local.blocksWithHashes() else Nil
    val oldHead = local.head

    val ws = new Ws.Client(wsUri(baseUrl, dataset, "pull"))
    try {
      val beginAfter = localBlocks.lastOption.map(_._2)
      val initial = ws.call(renderPullRequest(beginAfter, stopAt = None, force))
      val parsedInitial = parse(initial)
      val planJson = (parsedInitial \ "Ok") match {
        case JNothing if (parsedInitial \ "Err" \ "InvalidInterval") != JNothing =>
          // our head is unknown to the server: local ahead or diverged
          throw new SyncService.SyncException(
            s"local chain at $localRoot is ahead of or diverged from the remote" +
              " (the server does not know our head); re-clone to force",
            SyncService.Diverged(1, localBlocks.size))
        case JNothing => throw new SmartProtocolException("Pull(InitialRequest)", initial)
        case okBody   => okBody
      }
      val plan = parsePlan(planJson \ "transfer_plan")
      if (plan.numBlocks == 0) return SyncService.UpToDate

      // metadata phase
      val metaResp = ws.call(compact(JObject())) // DatasetPullMetadataRequest {}
      val batch = parseBlocksBatch(parse(metaResp) \ "blocks")
      val blocks = batch.blocks.map { case (n, b) => (n, b, MetadataChain.acceptBlock(n, b)) }
      // per-block content addresses prove nothing about ORDER: the delta
      // must continue our committed head before anything is written
      MetadataChain.requireLinked(
        localBlocks.lastOption.map { case (b, h) => (b.sequenceNumber, h) }, blocks.map(_._3))

      // objects phase: ask for every data slice + checkpoint the delta
      // references that is not already staged locally (resume skips them)
      val objects = blocks.map(b => MetadataChain.objectsOf(b._3._1.event))
      val dataRefs = objects.flatMap(_._1).distinctBy(_.physicalHash)
        .filterNot(a => local.fs.exists(local.dataFile(a.physicalHash)))
      // checkpoints are re-fetched even if a local dir exists: a crashed
      // earlier pull can leave a PARTIAL dir, and dir presence (unlike a
      // content-addressed file) proves nothing — per-entry writes are
      // atomic and idempotent, and bundles are small
      val ckptRefs = objects.flatMap(_._2).distinctBy(_.name)
      ckptRefs.foreach { c =>
        require(MetadataChain.isSafeRelPath(c.name) && !c.name.contains("/"),
          s"checkpoint name '${c.name}' from remote is not a safe relative path")
      }

      val wanted =
        dataRefs.map(a => ObjectFileReference("DataSlice", a.physicalHash, 0L)) ++
          ckptRefs.map(c => ObjectFileReference("Checkpoint", c.name, c.sizeBytes))
      if (wanted.nonEmpty) {
        // paged: one ObjectsRequest per objectBatchSize refs (the server's
        // objects loop accepts any number of requests), so a thousands-of-
        // slices pull never builds one unbounded message — the reference
        // client leaves this as a TODO (ws_tungstenite_client.rs:307)
        val strategies = wanted.grouped(objectBatchSize).toSeq.flatMap { page =>
          val stratResp = expectOk(
            ws.call(renderObjectsRequest(page, isTruncated = None)), "Pull(ObjectsRequest)")
          val got = (stratResp \ "object_transfer_strategies") match {
            case JArray(items) => items.map(s =>
              (parseObjectRef(s \ "object_file"), parseTransferUrl(s \ "download_from")))
            case other => throw new SmartProtocolException("Pull(ObjectsRequest)", compact(other))
          }
          require(got.size == page.size,
            s"server returned ${got.size} strategies for ${page.size} objects")
          // each strategy must name an object we asked for: its name picks
          // the local file or directory it lands in
          val asked = page.map(r => (r.objectType, r.physicalHash)).toSet
          got.foreach { case (ref, _) =>
            require(asked.contains((ref.objectType, ref.physicalHash)),
              s"server answered for unrequested ${ref.objectType} '${ref.physicalHash}'")
          }
          got
        }
        val fetches: Seq[() => Unit] = strategies.map { case (ref, from) => () =>
          ref.objectType match {
            case "Checkpoint" =>
              // bundle download: unpack under checkpoints/<name>
              val entries = untarGz(get(client, from.url))
              val dir = new Path(local.checkpointsDir, ref.physicalHash)
              entries.foreach { case (rel, bytes) =>
                require(MetadataChain.isSafeRelPath(rel),
                  s"bundle entry '$rel' is not a safe relative path")
                local.writeObjectAtomic(new Path(dir, rel), bytes)
              }
            case _ =>
              val in = get(client, from.url)
              try local.writeObjectAtomicFrom(
                local.dataFile(ref.physicalHash), in, Some(ref.physicalHash))
              finally in.close()
          }
        }
        SyncService.inParallel(parallelism, fetches)
      }

      // blocks land only after every object they reference; head moves last
      blocks.foreach { case (blockName, bytes, _) =>
        local.writeObjectAtomic(new Path(local.blocksDir, blockName), bytes)
      }
      val (lastBlock, lastHash) = blocks.last._3
      local.setHead(lastBlock.sequenceNumber, lastHash)
      SyncService.Updated(oldHead.map(_._2), lastHash, blocks.size, dataRefs.size)
    } finally ws.close()
  }

  // ------------------------------------------------------------------ push

  def push(
      baseUrl: String,
      dataset: String,
      localRoot: Path,
      conf: Configuration,
      force: Boolean = false,
      client: HttpClient = HttpClient.newHttpClient(),
      parallelism: Int = 8,
      objectBatchSize: Int = DefaultObjectBatchSize
  ): SyncService.SyncResult = {
    val local = MetadataChain.open(localRoot, conf)
    val srcBlocks = local.blocksWithHashes()
    require(srcBlocks.nonEmpty, s"local dataset at $localRoot has no blocks to push")

    // CAS probe: open a session with our best guess of the server head (a
    // fresh target: None). On InvalidHead the server names its actual head
    // and we re-plan against it in a new session.
    def attempt(guess: Option[String]): Either[Option[String], SyncService.SyncResult] = {
      val ws = new Ws.Client(wsUri(baseUrl, dataset, "push"))
      try {
        val delta: Seq[(graft.model.MetadataBlock, String)] = guess match {
          case None => srcBlocks
          case Some(h) =>
            val idx = srcBlocks.indexWhere(_._2 == h)
            if (idx < 0) {
              // server head unknown locally: histories diverged
              if (!force)
                throw new SyncService.SyncException(
                  s"served chain for $dataset is ahead of or diverged from local; use force",
                  SyncService.Diverged(1, srcBlocks.size))
              srcBlocks // force: replay everything; server CAS is overridden
            } else srcBlocks.drop(idx + 1)
        }
        if (delta.isEmpty && guess == srcBlocks.lastOption.map(_._2))
          return Right(SyncService.UpToDate)

        val (plan, objs) = planOf(local, delta)
        val blockBytes = delta.map { case (b, h) =>
          val name = MetadataChain.blockFileName(b.sequenceNumber, h)
          val fin = local.fs.open(new Path(local.blocksDir, name))
          try name -> fin.readAllBytes() finally fin.close()
        }

        val initial = ws.call(renderPushRequest(guess, plan, force))
        val parsedInitial = parse(initial)
        if ((parsedInitial \ "Ok") == JNothing) {
          val headErr = parsedInitial \ "Err" \ "InvalidHead"
          if (headErr == JNothing)
            throw new SmartProtocolException("Push(InitialRequest)", initial)
          // re-plan against the head the server told us about
          return Left((headErr \ "actual_head") match {
            case JString(s) => Some(s)
            case _          => None
          })
        }

        // metadata phase
        expectOk(ws.call(compact(JObject(
          "new_blocks" -> renderBlocksBatch(BlocksBatch(blockBytes))))), "Push(MetadataRequest)")

        // objects phase — paged via `is_truncated` (the wire flag the server
        // loops on; the reference client leaves paging as a TODO,
        // ws_tungstenite_client.rs:307): each page gets its strategies, its
        // bounded-pool uploads, and its own Complete progress handshake
        var slicesUploaded = 0
        if (delta.nonEmpty) {
          val pages = objs.grouped(objectBatchSize).toSeq
          pages.zipWithIndex.foreach { case (page, i) =>
            val more = i < pages.size - 1
            val stratResp = expectOk(
              ws.call(renderObjectsRequest(page, isTruncated = Some(more))),
              "Push(ObjectsRequest)")
            val strategies = (stratResp \ "object_transfer_strategies") match {
              case JArray(items) => items.map { s =>
                (parseObjectRef(s \ "object_file"),
                  (s \ "push_strategy") match { case JString(v) => v; case _ => "HttpUpload" },
                  (s \ "upload_to") match {
                    case JNull | JNothing => None
                    case u                => Some(parseTransferUrl(u))
                  })
              }
              case other => throw new SmartProtocolException("Push(ObjectsRequest)", compact(other))
            }
            val toUpload = strategies.collect { case (ref, "HttpUpload", Some(to)) => (ref, to) }
            slicesUploaded += toUpload.count(_._1.objectType != "Checkpoint")
            val uploads: Seq[() => Unit] = toUpload.map { case (ref, to) => () =>
              ref.objectType match {
                case "Checkpoint" =>
                  val bundle = packDirTarGz(local.fs, new Path(local.checkpointsDir, ref.physicalHash))
                  putStream(client, to.url, () => new java.io.ByteArrayInputStream(bundle))
                case _ =>
                  putStream(client, to.url, () => local.fs.open(local.dataFile(ref.physicalHash)))
              }
            }
            SyncService.inParallel(parallelism, uploads)
            // upload progress: Complete unblocks the server's progress loop
            ws.send(compact(JObject("details" -> JString("Complete"))))
          }
        }

        // complete phase: server commits (CAS + fast-forward) and confirms
        val confirm = ws.call(compact(JObject())) // DatasetPushComplete {}
        parse(confirm) match {
          case JObject(fields) if fields.toMap.contains("Err") =>
            throw new SmartProtocolException("Push(CompleteRequest)", confirm)
          case _ => ()
        }
        Right(SyncService.Updated(guess, srcBlocks.last._2, delta.size, slicesUploaded))
      } finally ws.close()
    }

    attempt(None) match {
      case Right(r)        => r
      case Left(actual)    => attempt(actual) match {
        case Right(r)     => r
        case Left(again)  =>
          throw new SyncService.SyncException(
            s"push CAS failed twice (server head now $again); concurrent writer?",
            SyncService.Diverged(1, 1))
      }
    }
  }
}
