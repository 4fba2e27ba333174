package graft.volume

import graft.io.{Fio, FioConf}

import java.util.UUID
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

/** Atomic publish/retire for store directories (zarr arrays, OME-Zarr
  * groups): the primitives under [[Landing]]. Its swap stages a store in
  * a [[tempSibling]] and [[publish]]es it; both of its forms retire what
  * an aborted write landed with [[deleteInBackground]].
  *
  * The reference's overwrite is all-or-nothing: pre-delete the store,
  * then write it fully (upscale_streaming.py:118–127). Literally on Spark
  * that is an O(files) driver-side delete (minutes at the ~1M chunk files
  * of a 100 TB array), and a job that crashes mid-write publishes a
  * partial store whose missing chunks read as fill_value sparsity. These
  * primitives keep both properties with O(1) synchronous driver work:
  *
  *  - the new store is built in a hidden TEMP SIBLING
  *    (`<store>.__tmp-<id>`) while readers keep seeing the old store;
  *  - publish = at most two metadata-only renames (existing store aside
  *    to `<store>.__trash-<id>`, temp into place) — atomic on POSIX
  *    filesystems and HDFS, so a concurrent reader sees the OLD store or
  *    the NEW one, never a mixture;
  *  - retired trees are deleted on a background daemon thread, and
  *    temp/trash leftovers of crashed processes are swept by the next
  *    write to the same destination, so no job blocks on an O(files)
  *    delete.
  *
  * Paths resolve through the Hadoop FileSystem API (graft.io.Fio), so the
  * same protocol runs on `file://` and `hdfs://`. CAVEAT — object stores:
  * S3A "rename" is a server-side copy, O(bytes) and non-atomic, so on
  * `s3a://` this degrades to eventual-publish without the atomicity
  * guarantee (the Hadoop S3A committer literature documents the same
  * tradeoff). Concurrent writers to the SAME destination are undefined
  * (as in the reference).
  */
object AtomicDir {

  private val sweeper = Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, "graft-store-sweeper")
    t.setDaemon(true)
    t
  })
  private val inFlight = new AtomicLong(0)

  private def sibling(dest: String, tag: String)(implicit fc: FioConf): String = {
    val d = Fio.qualify(dest)
    Fio.child(Fio.parent(d), Fio.fileName(d) + tag + UUID.randomUUID().toString.take(8))
  }

  /** A fresh hidden sibling to stage a new store tree in. */
  def tempSibling(dest: String)(implicit fc: FioConf): String = sibling(dest, ".__tmp-")

  /** Publish `tmp` at `dest`: rename any existing `dest` aside, move
    * `tmp` into place, retire the old tree in the background. If the
    * final move fails the old store is restored, so a failed publish is
    * a no-op.
    */
  def publish(tmp: String, dest: String)(implicit fc: FioConf): Unit = {
    val d = Fio.qualify(dest)
    val retired =
      if (Fio.exists(d)) {
        val t = sibling(d, ".__trash-")
        require(Fio.rename(d, t), s"publish: could not retire existing $d")
        Some(t)
      } else None
    val ok =
      try Fio.rename(tmp, d)
      catch {
        case e: Throwable =>
          retired.foreach(t => if (!Fio.exists(d)) Fio.rename(t, d))
          throw e
      }
    if (!ok) {
      retired.foreach(t => if (!Fio.exists(d)) Fio.rename(t, d))
      throw new java.io.IOException(s"publish: rename $tmp -> $d failed")
    }
    retired.foreach(deleteInBackground(_))
  }

  /** Queue a recursive delete on the daemon sweeper (never blocks the
    * caller on O(files) work).
    */
  def deleteInBackground(dir: String)(implicit fc: FioConf): Unit = {
    inFlight.incrementAndGet()
    sweeper.execute { () =>
      try Fio.delete(dir)
      catch { case _: Throwable => () } // leftover is re-swept by the next write
      finally inFlight.decrementAndGet()
    }
  }

  /** Sweep crash leftovers (`<dest>.__tmp-*`, `<dest>.__trash-*`) into
    * background deletes. Lists only `dest`'s parent — O(siblings), not
    * O(chunk files).
    */
  def sweepLeftovers(dest: String)(implicit fc: FioConf): Unit = {
    val d = Fio.qualify(dest)
    val parent = Fio.parent(d)
    if (Fio.isDirectory(parent)) {
      val base = Fio.fileName(d)
      Fio.listNames(parent).foreach { n =>
        if (n.startsWith(base + ".__tmp-") || n.startsWith(base + ".__trash-"))
          deleteInBackground(Fio.child(parent, n))
      }
    }
  }

  /** Test hook: wait for queued background deletes to drain. */
  def awaitQuiescent(timeoutMs: Long = 60000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (inFlight.get() > 0 && System.nanoTime() < deadline) Thread.sleep(5)
  }
}
