package graft.chain

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.FsAtomic
import graft.model.MetadataEvent.{Seed, SetAttachments}

/** A head move on `file://` is one atomic replace: a reader polling while a
  * writer commits finds the old head or the new one, never none. */
class HeadMoveSpec extends AnyFunSuite {

  /** Runs `poll` on another thread while `write` runs; returns (polls, failed
    * polls). A poll fails when it returns false or throws. */
  private def pollWhile(poll: () => Boolean)(write: => Unit): (Long, Long) = {
    val done = new AtomicBoolean(false)
    val polls = new AtomicLong
    val failed = new AtomicLong
    val poller = new Thread(() =>
      while (!done.get) {
        polls.incrementAndGet()
        if (!Try(poll()).getOrElse(false)) failed.incrementAndGet()
      })
    poller.start()
    try write
    finally { done.set(true); poller.join() }
    (polls.get, failed.get)
  }

  test("a poller on file:// never finds the head missing during 1,000 appends") {
    val dir = Files.createTempDirectory("graft-head-move-")
    val chain = MetadataChain.create(dir)
    chain.append(Seed("polled", "root"), 0L)
    val reader = MetadataChain.open(dir)
    val (polls, missing) = pollWhile(() => reader.head.isDefined) {
      (1 to 1000).foreach(i => chain.append(SetAttachments(Nil), i.toLong))
    }
    assert(chain.head.map(_._1) === Some(1000L))
    assert(polls > 0L)
    assert(missing === 0L, s"head missing in $missing of $polls polls")
  }

  test("FsAtomic.write on file:// never exposes a missing or unreadable target") {
    val fs = FileSystem.getLocal(new Configuration())
    val target = new Path(new Path(Files.createTempDirectory("graft-fs-atomic-").toUri), "registry.json")
    // a file with a checksum sidecar, as a checksummed write leaves it
    val out = fs.create(target, true)
    try out.write("v0".getBytes(UTF_8)) finally out.close()
    assert(fs.exists(fs.getChecksumFile(target)))
    val (polls, failed) = pollWhile { () =>
      val in = fs.open(target)
      try new String(in.readAllBytes(), UTF_8).startsWith("v") finally in.close()
    } {
      (1 to 1000).foreach(i => FsAtomic.write(fs, target, s"v$i".getBytes(UTF_8)))
    }
    assert(polls > 0L)
    assert(failed === 0L, s"$failed of $polls reads failed")
    val in = fs.open(target)
    try assert(new String(in.readAllBytes(), UTF_8) === "v1000") finally in.close()
    assert(!fs.exists(fs.getChecksumFile(target)), "a stale checksum sidecar was left behind")
  }
}
