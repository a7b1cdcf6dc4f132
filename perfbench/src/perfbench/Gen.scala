package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded feeds for the service workloads: one seed gives byte-identical
  * input files on every run and every commit of the engine. (The operator
  * workload reads the repository's test tables under `perfbench/testdata`.) */
object Gen {

  /** The ledger feed: `batches` NDJSON files of `rows` rows each. A `dupShare`
    * of every batch after the first re-sends ids committed by earlier
    * batches (at-least-once delivery); the rest are fresh ids. Batch i's
    * fresh events fall in hour i, so the hourly derivative is complete per
    * batch. Returns the fresh ids in commit order. */
  def ledgerBatches(seed: Long, batches: Int, rows: Int, dupShare: Double, dir: Path,
      prefix: String): Seq[Seq[Long]] = {
    Files.createDirectories(dir)
    val rnd = new java.util.SplittableRandom(seed)
    val types = Array("click", "signup", "error", "view", "purchase")
    val hour0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    var nextId = 0L
    val fresh = Seq.newBuilder[Seq[Long]]
    val committed = scala.collection.mutable.ArrayBuffer.empty[Long]
    def line(id: Long, epochSec: Long, user: Long, tpe: String, value: Long): String =
      s"""{"event_id":$id,"event_time":"${java.time.Instant.ofEpochSecond(epochSec)}",""" +
        s""""user_id":$user,"event_type":"$tpe","value":$value}"""
    for (b <- 0 until batches) {
      val dups = if (b == 0) 0 else math.round(rows * dupShare).toInt
      val news = (0 until rows - dups).map { _ => nextId += 1; nextId }
      val sb = new StringBuilder
      news.foreach { id =>
        sb.append(line(id, hour0 + b * 3600L + rnd.nextInt(3600), rnd.nextInt(400),
          types(rnd.nextInt(types.length)), rnd.nextInt(100000))).append('\n')
      }
      // re-sent rows repeat an old id with a different payload: the ledger
      // keeps the first delivery, so the payload must not matter
      (0 until dups).foreach { _ =>
        val id = committed(rnd.nextInt(committed.size))
        sb.append(line(id, hour0 + rnd.nextInt(3600), rnd.nextInt(400),
          types(rnd.nextInt(types.length)), rnd.nextInt(100000))).append('\n')
      }
      Files.write(dir.resolve(f"$prefix-$b%05d.ndjson"), sb.toString.getBytes(StandardCharsets.UTF_8))
      committed ++= news
      fresh += news
    }
    fresh.result()
  }

  /** The snapshot feed: snapshot 0 holds `stateRows` accounts; each later
    * snapshot updates, inserts and deletes seeded shares of the previous
    * one. Written as CSV; returns (updates, inserts, deletes) per snapshot. */
  def snapshots(seed: Long, count: Int, stateRows: Int, changeShare: Double, dir: Path,
      prefix: String): Seq[(Int, Int, Int)] = {
    Files.createDirectories(dir)
    val rnd = new java.util.SplittableRandom(seed)
    val regions = Array("north", "south", "east", "west")
    val state = new java.util.TreeMap[Long, (String, Long)]()
    var nextId = 0L
    def fresh(): (String, Long) = (regions(rnd.nextInt(regions.length)), rnd.nextInt(1000000).toLong)
    (0 until stateRows).foreach { _ => state.put(nextId, fresh()); nextId += 1 }
    val out = Seq.newBuilder[(Int, Int, Int)]
    for (s <- 0 until count) {
      var ups, ins, dels = 0
      if (s > 0) {
        val n = math.max(1, math.round(state.size * changeShare).toInt)
        val keys = state.keySet().toArray.map(_.asInstanceOf[Long])
        val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
        while (touched.size < 2 * n) touched += keys(rnd.nextInt(keys.length))
        val (upd, del) = touched.toSeq.splitAt(n)
        upd.foreach { k => val (r, b) = state.get(k); state.put(k, (r, b + 1 + rnd.nextInt(1000))); ups += 1 }
        del.foreach { k => state.remove(k); dels += 1 }
        (0 until n).foreach { _ => state.put(nextId, fresh()); nextId += 1; ins += 1 }
      }
      val sb = new StringBuilder("id,region,balance\n")
      state.forEach((k, v) => sb.append(k).append(',').append(v._1).append(',').append(v._2).append('\n'))
      Files.write(dir.resolve(f"$prefix-$s%05d.csv"), sb.toString.getBytes(StandardCharsets.UTF_8))
      out += ((ups, ins, dels))
    }
    out.result()
  }
}
