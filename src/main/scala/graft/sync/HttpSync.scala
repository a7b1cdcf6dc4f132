package graft.sync

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.chain.MetadataChain

/**
 * Pull/push a dataset from/to a SERVED graft node (the
 * `/datasets/<name>/sync/...` endpoints of [[graft.adapter.RestServer]]) —
 * the HTTP client half of the reference's Simple Transfer Protocol
 * (simple_transfer_protocol.rs; the reference's
 * `kamu pull/push <node-url>/<dataset>` story). The reference gates pushes
 * behind accounts; this node is single-tenant, so the push surface is open
 * but never trusting — the SERVER re-hashes every object it receives.
 *
 * Same commit discipline as [[SyncService]]: content-addressed objects land
 * via write-temp + rename (an existing file is therefore complete and
 * skippable — natural resume), every transferred object is hash-verified
 * (an HTTP remote is never a trusted source), and the head ref moves only
 * after everything is in place. A pulled block passes
 * [[MetadataChain.acceptBlock]] and the delta [[MetadataChain.requireLinked]]
 * before anything lands. Push adds a batched negotiation round
 * (`POST sync/missing`, git-style) so a resumed push re-sends only what the
 * server still lacks.
 */
object HttpSync {

  private def get(client: HttpClient, url: String): Array[Byte] = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    require(resp.statusCode() == 200, s"GET $url -> HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** Streaming GET for chain objects (slices up to ~1 GiB): the body flows
    * straight into the staging write, never buffered whole. */
  private def getStream(client: HttpClient, url: String): java.io.InputStream = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    if (resp.statusCode() != 200) {
      try resp.body().close() catch { case _: Exception => () }
      throw new IllegalArgumentException(s"GET $url -> HTTP ${resp.statusCode()}")
    }
    resp.body()
  }

  /** (seq, hash) of each block in the listing endpoint's answer, in seq
    * order. The listing is UNTRUSTED input whose names later land under
    * `blocks/`: an entry that is not a [[MetadataChain.blockFileName]] is
    * rejected before it can name a file elsewhere. */
  private def listBlocks(client: HttpClient, base: String): Seq[(Long, String)] = {
    implicit val formats: org.json4s.DefaultFormats.type = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization
      .read[Seq[String]](new String(get(client, s"$base/sync/blocks"), UTF_8))
      .map(n => MetadataChain.parseBlockName(n).getOrElse(throw new IllegalArgumentException(
        s"remote block listing entry '$n' is not a valid block name")))
      .sortBy(_._1)
  }

  /** A path from the UNTRUSTED remote, checked with
    * [[MetadataChain.isSafeRelPath]] before it is joined under a local
    * directory. */
  private def safeRel(kind: String, s: String): String = {
    require(MetadataChain.isSafeRelPath(s), s"$kind '$s' from remote is not a safe relative path")
    s
  }

  /** Compare the LOCAL chain against a served one without transferring
    * anything (block hashes come from the content-addressed names) — same
    * local-as-src orientation as [[SyncService.compare]]: `Ahead` = local
    * has blocks the remote lacks, `Behind` = the remote is ahead. */
  def status(
      baseUrl: String,
      dataset: String,
      localRoot: Path,
      conf: Configuration,
      client: HttpClient = HttpClient.newHttpClient()
  ): SyncService.ChainsStatus = {
    val base = s"${baseUrl.stripSuffix("/")}/datasets/$dataset"
    val remoteHashes = listBlocks(client, base).map(_._2)
    val local =
      if (MetadataChain.exists(localRoot, conf))
        MetadataChain.open(localRoot, conf).blocksWithHashes()
      else Nil
    SyncService.compareHashes(local, remoteHashes)
  }

  /**
   * Pull `dataset` from the node at `baseUrl` into `localRoot`. Transfers
   * only the blocks the local chain is missing plus the data slices and
   * checkpoints they reference; verifies every object against its content
   * address; commits with one atomic head move. Local-ahead / diverged
   * chains refuse unless `force`.
   */
  def pull(
      baseUrl: String,
      dataset: String,
      localRoot: Path,
      conf: Configuration,
      force: Boolean = false,
      client: HttpClient = HttpClient.newHttpClient(),
      parallelism: Int = 8
  ): SyncService.SyncResult = {
    val base = s"${baseUrl.stripSuffix("/")}/datasets/$dataset"
    val remote = listBlocks(client, base)
    require(remote.nonEmpty, s"remote dataset $dataset has no blocks")

    // Listing-shape validation FIRST (UNTRUSTED remote): reject a gapped
    // chain before a single block body is fetched — on a large chain that is
    // thousands of saved requests (the per-block declared-seq and prev-hash
    // checks below still need the bodies).
    require(remote.map(_._1) == remote.indices.map(_.toLong),
      s"remote listing is not a contiguous chain: seqs ${remote.map(_._1).mkString(",")}")

    val exists = MetadataChain.exists(localRoot, conf)
    val local = if (exists) MetadataChain.open(localRoot, conf)
                else MetadataChain.create(localRoot, conf)
    val localHashes = if (exists) local.blockHashes() else Nil
    val oldHead = local.head

    val common = remote.map(_._2).zip(localHashes).takeWhile { case (a, b) => a == b }.size
    if (common == remote.size && common == localHashes.size) return SyncService.UpToDate
    if (!force && common < localHashes.size) {
      val st =
        if (common < remote.size) SyncService.Diverged(remote.size - common, localHashes.size - common)
        else SyncService.Behind(localHashes.size - common)
      throw new SyncService.SyncException(
        s"local chain at $localRoot is ahead of or diverged from the remote; use force", st)
    }

    val have = local.blockFiles().map(_.getName).toSet
    // Every remote block past the COMMITTED common prefix is (re)checked —
    // a block file staged by a crashed pull proves nothing about the objects
    // it references (the head moves last, so only committed blocks carry the
    // everything-present invariant). Skipping on block presence alone would
    // let a crash between block write and data fetch commit a head over a
    // missing slice on the re-run.
    //
    // Transfer runs in phases so independent objects move concurrently
    // (HttpClient is thread-safe; a slice-count dataset pulls thousands of
    // ≤1 GiB objects): (1) block bytes, verified; (2) checkpoint listings,
    // validated; (3) data slices + checkpoint files on a bounded pool;
    // (4) block files land only after every referenced object — same
    // objects-first/blocks-last/head-last ordering as SyncService.sync.
    val pending = remote.drop(common).map { case (seq, h) => MetadataChain.blockFileName(seq, h) }
    val blocks = SyncService.inParallel(parallelism, pending.map { blockName => () =>
      val bytes =
        if (have.contains(blockName)) {
          val in = local.fs.open(new Path(local.blocksDir, blockName))
          try in.readAllBytes() finally in.close()
        } else get(client, s"$base/sync/blocks/$blockName")
      (blockName, bytes, MetadataChain.acceptBlock(blockName, bytes))
    })
    // content addresses prove each block's BYTES, not their order: before
    // any commit the delta must continue the committed prefix, or setHead
    // below would corrupt the local chain
    MetadataChain.requireLinked(
      if (common == 0) None else Some(remote(common - 1)), blocks.map(_._3))
    val objects = blocks.map(b => MetadataChain.objectsOf(b._3._1.event))
    val dataRefs = objects.flatMap(_._1).map(_.physicalHash).distinct
      .filterNot(ph => local.fs.exists(local.dataFile(ph)))
    val ckptRefs = objects.flatMap(_._2).map(_.name).distinct
    val ckptFiles: Seq[(String, String)] = ckptRefs.flatMap { ckpt =>
      require(!safeRel("checkpoint name", ckpt).contains("/"),
        s"checkpoint name '$ckpt' is not a single segment")
      implicit val formats: org.json4s.DefaultFormats.type = org.json4s.DefaultFormats
      val rels = org.json4s.jackson.Serialization.read[Seq[String]](
        new String(get(client, s"$base/sync/checkpoints/$ckpt"), UTF_8))
      rels.map(rel => ckpt -> safeRel("checkpoint file path", rel))
    }.filterNot { case (ckpt, rel) =>
      local.fs.exists(new Path(new Path(local.checkpointsDir, ckpt), rel))
    }

    val sliceFetches: Seq[() => Unit] = dataRefs.map { ph => () =>
      // streamed: digest computed as the body flows into staging; a
      // mismatch deletes the temp and throws before any rename
      val in = getStream(client, s"$base/sync/data/$ph")
      try local.writeObjectAtomicFrom(local.dataFile(ph), in, Some(ph))
      finally in.close()
    }
    val ckptFetches: Seq[() => Unit] = ckptFiles.map { case (ckpt, rel) => () =>
      val enc = java.net.URLEncoder.encode(rel, "UTF-8")
      val in = getStream(client, s"$base/sync/checkpoints/$ckpt/file?path=$enc")
      try local.writeObjectAtomicFrom(
        new Path(new Path(local.checkpointsDir, ckpt), rel), in, expectedSha256 = None)
      finally in.close()
    }
    SyncService.inParallel(parallelism, sliceFetches ++ ckptFetches)
    val dataCopied = dataRefs.size

    blocks.foreach { case (blockName, bytes, _) =>
      if (!have.contains(blockName))
        local.writeObjectAtomic(new Path(local.blocksDir, blockName), bytes)
    }

    val (lastSeq, lastHash) = remote.last
    local.setHead(lastSeq, lastHash)
    SyncService.Updated(oldHead.map(_._2), lastHash, remote.size - common, dataCopied)
  }

  // ------------------------------------------------------------------ push

  private def send(
      client: HttpClient,
      method: String,
      url: String,
      body: Array[Byte]
  ): (Int, Array[Byte]) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url))
        .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
        .build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body())
  }

  private def sendOk(client: HttpClient, method: String, url: String, body: Array[Byte]): Unit = {
    val (code, resp) = send(client, method, url, body)
    require(code == 200, s"$method $url -> HTTP $code: ${new String(resp, UTF_8)}")
  }

  /**
   * Push the local dataset at `localRoot` into the node at `baseUrl` under
   * `dataset` — the write half of the simple transfer protocol:
   *
   *  1. list the served chain (absent → `POST sync/create`, which the node
   *     only honors when it serves a workspace root);
   *  2. compare; equal → `UpToDate`, served-ahead/diverged → refuse unless
   *     `force` (the head POST carries the force flag — the SERVER decides);
   *  3. one `POST sync/missing` negotiation for the whole transfer plan,
   *     then PUT only the missing slices/checkpoints/blocks (server re-hashes
   *     each against its content address);
   *  4. `POST sync/head` — the single commit point, validated server-side
   *     (linked chain, staged objects, fast-forward).
   */
  def push(
      baseUrl: String,
      dataset: String,
      localRoot: Path,
      conf: Configuration,
      force: Boolean = false,
      client: HttpClient = HttpClient.newHttpClient(),
      parallelism: Int = 8
  ): SyncService.SyncResult = {
    val base = s"${baseUrl.stripSuffix("/")}/datasets/$dataset"
    val local = MetadataChain.open(localRoot, conf)
    val srcBlocks = local.blocksWithHashes()
    require(srcBlocks.nonEmpty, s"local dataset at $localRoot has no blocks to push")

    val remoteHashes =
      try listBlocks(client, base).map(_._2)
      catch {
        case _: IllegalArgumentException =>
          sendOk(client, "POST", s"$base/sync/create", Array.emptyByteArray)
          Nil
      }

    val status = SyncService.compareHashes(srcBlocks, remoteHashes)
    val toTransfer: Seq[(graft.model.MetadataBlock, String)] = status match {
      case SyncService.Equal         => return SyncService.UpToDate
      case SyncService.Ahead(blocks) => blocks
      case other if !force =>
        throw new SyncService.SyncException(
          s"served chain for $dataset is ahead of or diverged from local; use force", other)
      case _ =>
        val have = remoteHashes.toSet
        srcBlocks.filterNot { case (_, h) => have.contains(h) }
    }

    // one negotiation round for the whole plan
    val planBlocks =
      toTransfer.map { case (b, h) => MetadataChain.blockFileName(b.sequenceNumber, h) }
    val objects = toTransfer.map(b => MetadataChain.objectsOf(b._1.event))
    val planData = objects.flatMap(_._1).map(_.physicalHash).distinct
    implicit val formats: org.json4s.DefaultFormats.type = org.json4s.DefaultFormats
    val negotiation = org.json4s.jackson.JsonMethods.parse(new String(
      send(client, "POST", s"$base/sync/missing",
        org.json4s.jackson.Serialization.write(
          Map("blocks" -> planBlocks, "data" -> planData)).getBytes(UTF_8)) match {
        case (200, body) => body
        case (code, body) =>
          throw new IllegalStateException(s"negotiation -> HTTP $code: ${new String(body, UTF_8)}")
      }, UTF_8))
    val needBlocks = (negotiation \ "blocks").extract[Seq[String]].toSet
    val needData = (negotiation \ "data").extract[Seq[String]].toSet

    // All PUTs are independent and the server re-validates the complete
    // plan at the head POST (staged objects, linked chain, fast-forward),
    // so slices, checkpoint files, and blocks upload concurrently on a
    // bounded pool; the head POST below stays the single commit point.
    val pushSlices: Seq[() => Unit] = planData.filter(needData.contains)
      .map(ph => () => pushSlice(client, base, local, ph))
    val pushCkptFiles: Seq[() => Unit] = objects.flatMap(_._2).map(_.name).distinct
      .flatMap(ckpt => checkpointFilePushes(client, base, local, ckpt))
    val pushBlocks: Seq[() => Unit] = planBlocks.filter(needBlocks.contains).map { blockName =>
      () => {
        val in = local.fs.open(new Path(local.blocksDir, blockName))
        val bytes = try in.readAllBytes() finally in.close()
        sendOk(client, "PUT", s"$base/sync/blocks/$blockName", bytes)
      }
    }
    SyncService.inParallel(parallelism, pushSlices ++ pushCkptFiles ++ pushBlocks)
    val dataCopied = pushSlices.size

    val (lastSeq, lastHash) = (srcBlocks.last._1.sequenceNumber, srcBlocks.last._2)
    val forceField = if (force) ""","force":true""" else ""
    // CAS: name the head this plan was computed against — a concurrent push
    // that lands first makes the server reject ours with 409 (re-run push
    // to re-negotiate) instead of silently replaying history on top.
    val prev = remoteHashes.lastOption.getOrElse("")
    sendOk(client, "POST", s"$base/sync/head",
      s"""{"seq":$lastSeq,"hash":"$lastHash","prev":"$prev"$forceField}""".getBytes(UTF_8))
    SyncService.Updated(
      remoteHashes.lastOption, lastHash, toTransfer.size, dataCopied)
  }

  /** Streaming PUT of a local file (slices are up to ~1 GiB — never
    * buffered whole; chunked transfer from the chain's FileSystem). */
  private def putFile(
      client: HttpClient, url: String, local: MetadataChain, p: Path): Unit = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url))
        .method("PUT", HttpRequest.BodyPublishers.ofInputStream(() => local.fs.open(p)))
        .build(),
      HttpResponse.BodyHandlers.ofByteArray())
    require(resp.statusCode() == 200,
      s"PUT $url -> HTTP ${resp.statusCode()}: ${new String(resp.body(), UTF_8)}")
  }

  private def pushSlice(
      client: HttpClient, base: String, local: MetadataChain, ph: String): Unit =
    putFile(client, s"$base/sync/data/$ph", local, local.dataFile(ph))

  /** One upload thunk per file in a checkpoint directory. */
  private def checkpointFilePushes(
      client: HttpClient, base: String, local: MetadataChain, ckpt: String
  ): Seq[() => Unit] = {
    val dir = new Path(local.checkpointsDir, ckpt)
    if (!local.fs.exists(dir)) return Nil
    def walk(p: Path): Seq[Path] =
      local.fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
      }
    walk(dir).map { p => () =>
      val rel = p.toUri.getPath.stripPrefix(dir.toUri.getPath).stripPrefix("/")
      val enc = java.net.URLEncoder.encode(rel, "UTF-8")
      putFile(client, s"$base/sync/checkpoints/$ckpt/file?path=$enc", local, p)
    }
  }
}
