package graft.adapter

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.operators.Export
import graft.query.QueryService

/**
 * Minimal REST data API over a set of datasets — the reference's HTTP data
 * adapter surface (src/adapter/http/src/data/{query_handler,ingest_handler}
 * .rs), on the JDK's built-in HttpServer (zero extra dependencies; this is a
 * control-plane adapter, not a data-plane component).
 *
 *   POST /query                  {"query":"SELECT …"} → {"data":[{…}],"state":{…}}
 *                                {"query":…,"format":"arrow"} → Arrow IPC bytes
 *                                (the FlightSQL do_get_statement result
 *                                surface, adapter/flight-sql/service.rs:871)
 *   GET  /datasets               list dataset names
 *   GET  /datasets/{name}/tail?n=10          last n records (JsonAoS)
 *   GET  /datasets/{name}/schema?format=ddl|json|parquet|arrow
 *                                (odf/data-utils/src/schema/format.rs)
 *   POST /datasets/{name}/ingest?format=csv  push-ingest the request body
 *                                (ingest_handler.rs:66-175)
 *   GET  /datasets/{name}/sync/…             simple-transfer-protocol read side
 *   PUT  /datasets/{name}/sync/{blocks,data,checkpoints}/…  push staging
 *   POST /datasets/{name}/sync/{create,missing,head}        push negotiate+commit
 *                                (simple_transfer_protocol.rs:251-352; objects
 *                                re-hashed on receipt, head move is a validated
 *                                fast-forward — see commitPushedHead)
 *
 * Every /datasets route also accepts the multi-tenant two-segment form
 * `/datasets/{account}/{name}/…` (reference dataset_alias.rs): the account
 * folds into the dataset key `account/name`, stored one directory level
 * under the workspace root.
 */
final class RestServer(
    qs: QueryService,
    initialDatasets: Map[String, Dataset],
    port: Int = 0,
    nodeKey: Option[java.security.KeyPair] = None,
    workspaceRoot: Option[String] = None,
    onHeadMove: (String, String) => Unit = (_, _) => ()
) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Served datasets — grows when an HTTP push creates one (requires
    * `workspaceRoot`, the directory new chains land under). */
  @volatile private var datasets: Map[String, Dataset] = initialDatasets

  private def registerDataset(name: String, ds: Dataset): Unit = synchronized {
    datasets += name -> ds
    qs.register(name, ds)
  }

  private def hconf = qs.spark.sparkContext.hadoopConfiguration

  /** Chain a sync WRITE targets: a served dataset's, or one parked under
    * `workspaceRoot` that has objects but no committed head yet. The name
    * arrives from the network — every `/`-segment (one, or account/name)
    * must be traversal-safe before it touches the filesystem. */
  private def chainForPush(name: String): Option[graft.chain.MetadataChain] =
    datasets.get(name).map(_.chain).orElse(workspaceRoot.flatMap { ws =>
      if (!name.split("/", -1).forall(graft.sync.RemoteRegistry.safeSegment)) return None
      val root = new org.apache.hadoop.fs.Path(ws, name)
      // MetadataChain.exists requires a committed head; a chain parked by
      // sync/create has none until the final head POST, so probe blocks/.
      val fs = root.getFileSystem(hconf)
      if (fs.isDirectory(new org.apache.hadoop.fs.Path(root, "blocks")))
        Some(graft.chain.MetadataChain.open(root, hconf))
      else None
    })

  def boundPort: Int = server.getAddress.getPort

  def start(): RestServer = {
    server.createContext("/query", (ex: HttpExchange) => handle(ex)(handleQuery))
    server.createContext("/datasets", (ex: HttpExchange) => handle(ex)(handleDatasets))
    server.createContext("/odata", (ex: HttpExchange) => handle(ex)(handleOData))
    server.createContext("/graphql", (ex: HttpExchange) => handle(ex)(handleGraphQL))
    server.setExecutor(null)
    server.start()
    this
  }

  /** GraphQL data surface (adapter/graphql/src/queries/data.rs:26-91):
    * POST /graphql {"query":"{ dataset(name: \"x\") { tail(limit: 5) } }"}. */
  private def handleGraphQL(ex: HttpExchange): Response = {
    if (ex.getRequestMethod != "POST") return json(405, """{"error":"POST required"}""")
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val doc = extractJsonField(body, "query")
      .getOrElse(return json(400, """{"error":"body must be {\"query\":\"{...}\"}"}"""))
    json(200, GraphQL.execute(qs, datasets, doc))
  }

  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange)(f: HttpExchange => Response): Unit =
    try {
      val r = f(ex)
      r.stream match {
        case Some((open, len)) =>
          ex.getResponseHeaders.add("Content-Type", r.contentType)
          ex.sendResponseHeaders(r.code, if (len == 0) -1 else len)
          val in = open()
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) ex.getResponseBody.write(buf, 0, n)
              n = in.read(buf)
            }
          } finally in.close()
        case None => respond(ex, r.code, r.body, r.contentType)
      }
    } catch {
      case e: Exception =>
        respond(ex, 400,
          s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName))}}""".getBytes(StandardCharsets.UTF_8),
          "application/json")
    } finally ex.close()

  /** `stream` (when set) wins over `body`: (open-input, length) copied to
    * the wire in 64 KiB chunks — chain objects are up to ~1 GiB and are
    * never buffered whole. */
  private final case class Response(
      code: Int,
      body: Array[Byte],
      contentType: String,
      stream: Option[(() => java.io.InputStream, Long)] = None)
  private def json(code: Int, s: String): Response =
    Response(code, s.getBytes(StandardCharsets.UTF_8), "application/json")

  private def handleQuery(ex: HttpExchange): Response = {
    if (ex.getRequestMethod != "POST") return json(405, """{"error":"POST required"}""")
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val sql = extractJsonField(body, "query")
      .getOrElse(return json(400, """{"error":"body must be {\"query\":\"...\"}"}"""))
    val skip = extractJsonField(body, "skip").map(_.toLong).getOrElse(0L)
    val limit = extractJsonField(body, "limit").map(_.toInt).getOrElse(100)
    val (df, state) = qs.sqlWithState(sql)
    val page = qs.page(df, skip, limit)
    extractJsonField(body, "format") match {
      case Some("arrow") =>
        // Result page as one Arrow IPC stream — what a FlightSQL client
        // would fetch from do_get; state pins travel in a response header.
        val pins = state.inputs.map { case (k, v) => s"$k=$v" }.mkString(";")
        ex.getResponseHeaders.add("X-Graft-State", pins)
        Response(200, graft.operators.ArrowCodec.toArrowIpc(page),
          "application/vnd.apache.arrow.stream")
      case _ =>
        val data = Export.jsonAoS(page)
        val pins =
          state.inputs.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
        // {"proof":true} -> attach the signed commitment over the FULL result
        // (query_types.rs:223-307); pagination happens after proving.
        val proofJson =
          if (body.replaceAll("\\s", "").contains("\"proof\":true")) {
            val (_, proof) = qs.sqlProved(sql, nodeKey = nodeKey)
            val fields = Seq(
              s""""queryDigest":${jstr(proof.queryDigest)}""",
              s""""resultHash":${jstr(proof.resultHash)}"""
            ) ++ proof.signature.map(s => s""""signature":${jstr(s)}""") ++
              proof.publicKey.map(k => s""""publicKey":${jstr(k)}""")
            s""","proof":{${fields.mkString(",")}}"""
          } else ""
        json(200, s"""{"data":$data,"state":$pins$proofJson}""")
    }
  }

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").find(_.startsWith(s"$key=")))
      .map(_.stripPrefix(s"$key="))

  /** Checkpoint file paths arrive from the network (URI.getPath / getQuery —
    * both decoded exactly ONCE by java.net.URI; nothing here decodes again,
    * so double-encoded traversal like %252e%252e stays inert as literal
    * "%2e%2e"). A name/path is usable only if it passes
    * [[graft.chain.MetadataChain.isSafeRelPath]]. Returns the resolved path
    * and re-checks containment under `base` on the normalized URI as a final
    * guard. */
  private def resolveUnder(
      base: org.apache.hadoop.fs.Path,
      rel: String): Option[org.apache.hadoop.fs.Path] =
    Some(rel).filter(graft.chain.MetadataChain.isSafeRelPath)
      .map(_.split("/").foldLeft(base)(new org.apache.hadoop.fs.Path(_, _)))
      .filter { resolved =>
        val basePath = base.toUri.normalize.getPath.stripSuffix("/")
        resolved.toUri.normalize.getPath.startsWith(basePath + "/")
      }

  /** URL-decoded query options (OData options carry spaces and quotes). */
  private def queryOptions(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery)
      .map(_.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(
              java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
                java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case _ => None
        }
      }.toMap)
      .getOrElse(Map.empty)

  /** OData v4 read surface (context.rs:71-162): service doc, $metadata,
    * entity-set queries with $top/$skip/$select/$orderby/$filter. */
  private def handleOData(ex: HttpExchange): Response = {
    val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    path.toSeq match {
      case Seq("odata") => json(200, OData.serviceDocument(qs, "/odata"))
      case Seq("odata", "$metadata") =>
        Response(200, OData.metadataXml(qs).getBytes(StandardCharsets.UTF_8), "application/xml")
      case Seq("odata", name) =>
        if (!datasets.contains(name))
          return json(404, s"""{"error":"unknown entity set $name"}""")
        val df = OData.entitySet(qs, name, queryOptions(ex))
        json(200,
          s"""{"@odata.context":"/odata/$$metadata#$name","value":${Export.jsonAoS(df)}}""")
      case _ => json(404, """{"error":"not found"}""")
    }
  }

  /** Endpoint keywords that follow the dataset segment(s) in /datasets
    * routes — used to disambiguate `/datasets/{name}/tail` from the
    * multi-tenant `/datasets/{account}/{name}/tail`. */
  private val DatasetEndpoints = Set("tail", "schema", "ingest", "sync")

  private def handleDatasets(ex: HttpExchange): Response = {
    val raw = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    // Multi-tenant refs (reference dataset_alias.rs `account/dataset`): when
    // the second segment is not an endpoint keyword but the third is, fold
    // `{account}/{name}` into one dataset key — an account is a directory
    // level under the workspace root, nothing more. Both segments must be
    // traversal-safe; unsafe ones fall through to the 404 arm.
    val path =
      if (raw.length >= 4 && raw(0) == "datasets" &&
        !DatasetEndpoints(raw(2)) && DatasetEndpoints(raw(3)) &&
        graft.sync.RemoteRegistry.safeSegment(raw(1)) &&
        graft.sync.RemoteRegistry.safeSegment(raw(2)))
        Array("datasets", raw(1) + "/" + raw(2)) ++ raw.drop(3)
      else raw
    path match {
      case Array("datasets") =>
        json(200, qs.knownDatasets.map(jstr).mkString("[", ",", "]"))
      case Array("datasets", name, "tail") =>
        val n = queryParam(ex, "n").map(_.toInt).getOrElse(10)
        json(200, Export.jsonAoS(qs.tail(name, n)))
      case Array("datasets", name, "schema") =>
        val form = queryParam(ex, "format").getOrElse("ddl")
        val resolved = form match {
          case "ddl"     => qs.schemaDdl(name).map(d => s"""{"format":"ddl","schema":${jstr(d)}}""")
          case "json"    => qs.schemaJson(name).map(d => s"""{"format":"json","schema":$d}""")
          case "parquet" => qs.schemaParquet(name).map(d => s"""{"format":"parquet","schema":${jstr(d)}}""")
          case "arrow"   => qs.schemaArrowJson(name).map(d => s"""{"format":"arrow","schema":$d}""")
          case other     => return json(400, s"""{"error":"unknown schema format $other"}""")
        }
        resolved
          .map(json(200, _))
          .getOrElse(json(404, s"""{"error":"dataset $name has no schema yet"}"""))
      case Array("datasets", name, "ingest") =>
        if (ex.getRequestMethod != "POST") return json(405, """{"error":"POST required"}""")
        val ds = datasets.getOrElse(
          name, return json(404, s"""{"error":"unknown dataset $name"}"""))
        val tmp: Path = Files.createTempFile("graft-push-", ".dat")
        Files.write(tmp, ex.getRequestBody.readAllBytes())
        // ?source=<name> routes through a declared AddPushSource; otherwise
        // the polling source's read config is reused (prep skipped — the
        // body is already the prepared payload, ingest_handler.rs:66-175).
        val pushSource = Option(ex.getRequestURI.getQuery)
          .flatMap(_.split("&").find(_.startsWith("source=")))
          .map(_.stripPrefix("source="))
        val event = pushSource match {
          case Some(src) =>
            IngestWriter.ingestPushSource(ds, src, tmp.toString, System.currentTimeMillis())
          case None =>
            IngestWriter.ingestFile(ds, tmp.toString, System.currentTimeMillis(), applyPrep = false)
        }
        event match {
          case Some(e) =>
            json(200, s"""{"committed":true,"offsetStart":${e.offsetStart},"offsetEnd":${e.offsetEnd},"numRecords":${e.numRecords}}""")
          case None => json(200, """{"committed":false,"upToDate":true}""")
        }
      // ---- simple transfer protocol (read side): enough surface for a
      // remote client to mirror the chain — head ref, the content-addressed
      // block/slice/checkpoint objects. The HTTP analog of the reference's
      // dataset object endpoints backing SimpleTransferProtocol
      // (src/infra/core/src/utils/simple_transfer_protocol.rs).
      // ---- simple transfer protocol (write side): the push surface. The
      // reference gates pushes into a served node behind accounts; this node
      // is single-tenant so the surface is open, but it is never TRUSTING:
      // every block and slice is re-hashed against its content address on
      // receipt, and the head only moves through a validated fast-forward
      // commit (push flow of simple_transfer_protocol.rs:251-352).
      case Array("datasets", name, "sync", "create") if ex.getRequestMethod == "POST" =>
        val ws = workspaceRoot.getOrElse(
          return json(403, """{"error":"node does not accept new datasets (no workspace root)"}"""))
        if (!name.split("/", -1).forall(graft.sync.RemoteRegistry.safeSegment))
          return json(400, s"""{"error":"invalid dataset name"}""")
        if (chainForPush(name).isDefined) json(200, """{"created":false}""")
        else {
          graft.chain.MetadataChain.create(new org.apache.hadoop.fs.Path(ws, name), hconf)
          json(200, """{"created":true}""")
        }
      // Negotiation: which of these objects is the server missing? Batched
      // (one round-trip for the whole push plan), git-negotiation-style.
      case Array("datasets", name, "sync", "missing") if ex.getRequestMethod == "POST" =>
        val chain = chainForPush(name).getOrElse(
          return json(404, s"""{"error":"unknown dataset $name"}"""))
        implicit val formats: org.json4s.DefaultFormats.type = org.json4s.DefaultFormats
        val req = org.json4s.jackson.JsonMethods.parse(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        def want(field: String): Seq[String] =
          (req \ field).extractOrElse[Seq[String]](Nil)
        val haveBlocks = chain.blockFiles().map(_.getName).toSet
        val missBlocks = want("blocks").filterNot(haveBlocks.contains)
        val missData = want("data").filterNot(h => chain.fs.exists(chain.dataFile(h)))
        json(200,
          s"""{"blocks":${missBlocks.map(jstr).mkString("[", ",", "]")},""" +
            s""""data":${missData.map(jstr).mkString("[", ",", "]")}}""")
      case Array("datasets", name, "sync", "head") if ex.getRequestMethod == "POST" =>
        commitPushedHead(name, new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      case Array("datasets", name, "sync", "data", hash) if ex.getRequestMethod == "PUT" =>
        val chain = chainForPush(name).getOrElse(
          return json(404, s"""{"error":"unknown dataset $name"}"""))
        // streamed to staging with an on-the-fly digest — a slice is up to
        // ~1 GiB and is never buffered whole; a mismatch deletes the temp
        // and 400s (writeObjectAtomicFrom throws before any rename)
        chain.writeObjectAtomicFrom(chain.dataFile(hash), ex.getRequestBody, Some(hash))
        json(200, """{"received":true}""")
      case Array("datasets", name, "sync", "blocks", blockFile) if ex.getRequestMethod == "PUT" =>
        val chain = chainForPush(name).getOrElse(
          return json(404, s"""{"error":"unknown dataset $name"}"""))
        val bytes = ex.getRequestBody.readAllBytes()
        // a refused block throws, which answers 400
        graft.chain.MetadataChain.acceptBlock(blockFile, bytes)
        chain.writeObjectAtomic(
          new org.apache.hadoop.fs.Path(chain.blocksDir, blockFile), bytes)
        json(200, """{"received":true}""")
      case Array("datasets", name, "sync", "checkpoints", ckpt, "file")
          if ex.getRequestMethod == "PUT" =>
        val chain = chainForPush(name).getOrElse(
          return json(404, s"""{"error":"unknown dataset $name"}"""))
        val rel = queryParam(ex, "path")
          .getOrElse(return json(400, """{"error":"path param required"}"""))
        val target = resolveUnder(chain.checkpointsDir, ckpt)
          .flatMap(dir => resolveUnder(dir, rel))
          .getOrElse(return json(400, """{"error":"invalid checkpoint path"}"""))
        chain.writeObjectAtomicFrom(target, ex.getRequestBody, expectedSha256 = None)
        json(200, """{"received":true}""")
      case Array("datasets", name, "sync", "head") =>
        val ds = datasets.getOrElse(
          name, return json(404, s"""{"error":"unknown dataset $name"}"""))
        ds.chain.head match {
          case Some((seq, hash)) => json(200, s"""{"seq":$seq,"hash":${jstr(hash)}}""")
          case None              => json(404, """{"error":"empty chain"}""")
        }
      case Array("datasets", name, "sync", "blocks") =>
        val ds = datasets.getOrElse(
          name, return json(404, s"""{"error":"unknown dataset $name"}"""))
        // the REACHABLE chain (head-backwards walk), NOT the blocks
        // directory — after a forced push the directory still holds the
        // abandoned branch's files, which are garbage, not history
        json(200, ds.chain.blocksWithHashes()
          .map { case (b, h) =>
            jstr(graft.chain.MetadataChain.blockFileName(b.sequenceNumber, h)) }
          .mkString("[", ",", "]"))
      case Array("datasets", name, "sync", "blocks", blockFile) =>
        serveChainFile(name, c => new org.apache.hadoop.fs.Path(c.blocksDir, blockFile))
      case Array("datasets", name, "sync", "data", hash) =>
        serveChainFile(name, _.dataFile(hash))
      case Array("datasets", name, "sync", "checkpoints", ckpt) =>
        val ds = datasets.getOrElse(
          name, return json(404, s"""{"error":"unknown dataset $name"}"""))
        val dir = resolveUnder(ds.chain.checkpointsDir, ckpt)
          .getOrElse(return json(400, """{"error":"invalid checkpoint path"}"""))
        if (!ds.chain.fs.exists(dir)) return json(404, """{"error":"no such checkpoint"}""")
        def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
          ds.chain.fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
            if (st.isDirectory) walk(st.getPath)
            else Seq(st.getPath.toUri.getPath.stripPrefix(dir.toUri.getPath).stripPrefix("/"))
          }
        json(200, walk(dir).map(jstr).mkString("[", ",", "]"))
      // whole-checkpoint tar.gz bundle — the one-object-per-checkpoint view
      // the smart transfer protocol's ObjectFileReference(Checkpoint, hash)
      // expects (protocol_dataset_helper.rs:396-434 serves a checkpoint as a
      // single content-addressed object; this chain stores a directory, so
      // the bundle is the single-object encoding of it)
      case Array("datasets", name, "sync", "checkpoints", ckpt, "bundle")
          if ex.getRequestMethod == "PUT" =>
        val chain = chainForPush(name).getOrElse(
          return json(404, s"""{"error":"unknown dataset $name"}"""))
        val dir = resolveUnder(chain.checkpointsDir, ckpt)
          .getOrElse(return json(400, """{"error":"invalid checkpoint path"}"""))
        graft.sync.SmartProtocol.untarGz(ex.getRequestBody).foreach { case (rel, bytes) =>
          val target = resolveUnder(dir, rel)
            .getOrElse(return json(400, s"""{"error":"invalid bundle entry path"}"""))
          chain.writeObjectAtomic(target, bytes)
        }
        json(200, """{"received":true}""")
      case Array("datasets", name, "sync", "checkpoints", ckpt, "bundle") =>
        val ds = datasets.getOrElse(
          name, return json(404, s"""{"error":"unknown dataset $name"}"""))
        val dir = resolveUnder(ds.chain.checkpointsDir, ckpt)
          .getOrElse(return json(400, """{"error":"invalid checkpoint path"}"""))
        if (!ds.chain.fs.exists(dir)) return json(404, """{"error":"no such checkpoint"}""")
        Response(200, graft.sync.SmartProtocol.packDirTarGz(ds.chain.fs, dir),
          "application/tar+gzip")
      case Array("datasets", name, "sync", "checkpoints", ckpt, "file") =>
        val rel = queryParam(ex, "path")
          .getOrElse(return json(400, """{"error":"path param required"}"""))
        val ds0 = datasets.getOrElse(
          name, return json(404, s"""{"error":"unknown dataset $name"}"""))
        val target = resolveUnder(ds0.chain.checkpointsDir, ckpt)
          .flatMap(dir => resolveUnder(dir, rel))
          .getOrElse(return json(400, """{"error":"invalid checkpoint path"}"""))
        serveChainFile(name, _ => target)
      case _ => json(404, """{"error":"not found"}""")
    }
  }

  /** The commit point of a push: validate that the proposed head names a
    * complete, linked chain whose referenced data/checkpoint objects are all
    * on disk, that the move is a fast-forward of the current head (unless
    * `force`), then move the ref atomically and register the dataset if it
    * arrived with this push. Everything before this was staging — a crashed
    * push leaves the old head fully intact. */
  private def commitPushedHead(name: String, body: String): Response = {
    val seq = extractJsonField(body, "seq")
      .getOrElse(return json(400, """{"error":"seq required"}""")).toLong
    val hash = extractJsonField(body, "hash")
      .getOrElse(return json(400, """{"error":"hash required"}"""))
    val force = body.replaceAll("\\s", "").contains("\"force\":true")
    val basedOn = extractJsonField(body, "prev")
    syncCommitHead(name, seq, hash, basedOn, force) match {
      case Left((code, msg)) => json(code, s"""{"error":${jstr(msg)}}""")
      case Right(())         => json(200, s"""{"committed":true,"seq":$seq,"hash":${jstr(hash)}}""")
    }
  }

  /** Validated head move shared by the HTTP push surface and the smart
    * transfer protocol's push-complete phase ([[graft.sync.SmartTransferServer]]):
    * the proposed head must name a complete linked chain whose referenced
    * data slices and checkpoint directories
    * ([[graft.chain.MetadataChain.objectsOf]]) are all staged; `basedOn` is
    * the optimistic-concurrency base ("" = planned against an empty chain,
    * None = skip the CAS check); non-fast-forward moves need `force`. */
  private[graft] def syncCommitHead(
      name: String, seq: Long, hash: String,
      basedOn: Option[String], force: Boolean): Either[(Int, String), Unit] = {
    val chain = chainForPush(name).getOrElse(
      return Left(404 -> s"unknown dataset $name"))
    // walk prev links from the proposed head — throws if any block is absent
    val newChain = chain.blocksWithHashes(Some(hash))
    if (newChain.last._1.sequenceNumber != seq)
      return Left(400 -> s"head $hash has seq ${newChain.last._1.sequenceNumber}, not $seq")
    // every object the new chain references must already be staged
    val unstaged = newChain.flatMap { case (b, h) =>
      val (data, ckpt) = graft.chain.MetadataChain.objectsOf(b.event)
      data.map(_.physicalHash).filterNot(ph => chain.fs.exists(chain.dataFile(ph)))
        .map(ph => s"$h->slice $ph") ++
        ckpt.map(_.name)
          .filterNot(n => resolveUnder(chain.checkpointsDir, n).exists(chain.fs.exists))
          .map(n => s"$h->checkpoint $n")
    }
    if (unstaged.nonEmpty)
      return Left(400 -> s"unstaged object(s): ${unstaged.mkString(",")}")
    // optimistic concurrency: the client states which head its plan was
    // based on ("prev": hash, or "" when it saw an empty chain); if another
    // push moved the head since, reject instead of silently absorbing —
    // the loser re-negotiates against the new head (compare-and-swap, the
    // reference's BlockRef CAS semantics). `force` overrides, and a client
    // that omits the field (older protocol) gets the fast-forward check only.
    val moved = basedOn.exists { prev =>
      chain.head.map(_._2) != (if (prev.isEmpty) None else Some(prev))
    }
    if (moved && !force)
      return Left(409 -> "served head moved since the push was planned; re-sync and retry")
    val notFastForward = chain.head.exists { case (curSeq, curHash) =>
      !newChain.exists { case (b, h) => b.sequenceNumber == curSeq && h == curHash }
    }
    if (notFastForward && !force)
      return Left(409 -> "push is not a fast-forward of the served head; use force")
    chain.setHead(seq, hash)
    if (!datasets.contains(name))
      registerDataset(name, new Dataset(qs.spark, chain))
    onHeadMove(name, hash)
    Right(())
  }

  /** Read-side chain of a served dataset (smart transfer pull phase). */
  private[graft] def syncReadChain(name: String): Option[graft.chain.MetadataChain] =
    datasets.get(name).map(_.chain)

  /** Write-target chain: served, or parked under the workspace root by a
    * not-yet-committed push (smart transfer push phase). */
  private[graft] def syncPushChain(name: String): Option[graft.chain.MetadataChain] =
    chainForPush(name)

  /** Create an empty chain for an incoming push (smart transfer equivalent
    * of `POST sync/create`) — only when this node serves a workspace root. */
  private[graft] def syncCreateDataset(name: String): Either[String, graft.chain.MetadataChain] = {
    val ws = workspaceRoot.getOrElse(
      return Left("node does not accept new datasets (no workspace root)"))
    if (!name.split("/", -1).forall(graft.sync.RemoteRegistry.safeSegment))
      return Left(s"invalid dataset name '$name'")
    chainForPush(name) match {
      case Some(c) => Right(c)
      case None =>
        Right(graft.chain.MetadataChain.create(new org.apache.hadoop.fs.Path(ws, name), hconf))
    }
  }

  /** Stream one content-addressed chain object (block / slice / checkpoint
    * file) as application/octet-stream. */
  private def serveChainFile(
      name: String,
      resolve: graft.chain.MetadataChain => org.apache.hadoop.fs.Path): Response = {
    val ds = datasets.getOrElse(
      name, return json(404, s"""{"error":"unknown dataset $name"}"""))
    val p = resolve(ds.chain)
    if (!ds.chain.fs.exists(p)) return json(404, """{"error":"no such object"}""")
    // raw FS (no .crc sidecar verification): integrity is the CLIENT's job —
    // every object is content-addressed and HttpSync verifies on receipt,
    // same posture as MetadataChain's own raw reads
    val fs = ds.chain.fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other                                      => other
    }
    Response(200, Array.emptyByteArray, "application/octet-stream",
      stream = Some((() => fs.open(p), fs.getFileStatus(p).getLen)))
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte], contentType: String): Unit = {
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    ex.getResponseBody.write(body)
  }

  /** Tiny extractor for one string/number field of a flat JSON object —
    * avoids a parser dependency for the 2-field request body. */
  private def extractJsonField(json: String, key: String): Option[String] = {
    val str = ("\"" + key + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
    val num = ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r
    str
      .findFirstMatchIn(json)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\").replace("\\n", "\n"))
      .orElse(num.findFirstMatchIn(json).map(_.group(1)))
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}
