package graft.sources

import graft.io.{Fio, FioConf}
import graft.volume.AtomicDir

/** Where a DSv2 zarr batch write stages files and how job commit
  * publishes them atomically:
  *
  *  - [[StoreStaging.Swap]] (overwrite / fresh store): build the whole
  *    store in a temp sibling, publish with O(1) renames via
  *    [[AtomicDir]]. A job failure leaves the destination untouched.
  *  - [[StoreStaging.Append]]: stage chunk files under a fixed hidden
  *    `.__staging/<id>/` inside the store, publish per-file atomic
  *    renames at commit, nested keys included — O(chunks written by THIS
  *    job) metadata work, bounded by the append, not the store. Readers
  *    never see staging (they address chunks by coordinate and never
  *    list).
  *
  * Paths are Hadoop-FS strings (graft.io.Fio): the same commit protocol
  * runs on `file://` and `hdfs://`; see [[AtomicDir]] for the
  * object-store rename caveat.
  */
private[sources] sealed trait StoreStaging {
  /** Directory tasks (and driver-side store init) write into. */
  def writeDir: String
  def commit(): Unit
  def abort(): Unit
}

private[sources] object StoreStaging {

  /** Overwrite / fresh store: build in a temp sibling, swap at commit. */
  final case class Swap(dest: String)(implicit fc: FioConf) extends StoreStaging {
    val writeDir: String = AtomicDir.tempSibling(dest)
    override def commit(): Unit = AtomicDir.publish(writeDir, dest)
    override def abort(): Unit = AtomicDir.deleteInBackground(writeDir)
  }

  /** Append to an existing store. Creating the staging dir sweeps
    * `.__staging/<id>` leftovers a crashed earlier append abandoned —
    * listing O(crashed jobs) entries, never the store's chunk files.
    */
  final case class Append(dest: String)(implicit fc: FioConf) extends StoreStaging {
    private val stagingRoot = Fio.child(dest, ".__staging")
    val writeDir: String = {
      if (Fio.isDirectory(stagingRoot))
        Fio.listNames(stagingRoot).foreach(n => AtomicDir.deleteInBackground(Fio.child(stagingRoot, n)))
      Fio.child(stagingRoot, java.util.UUID.randomUUID().toString.take(8))
    }
    override def commit(): Unit = {
      publishFiles(writeDir, dest)
      Fio.delete(writeDir)
      // drop the (now usually empty) staging root; a concurrent writer's
      // live dir makes this fail harmlessly
      if (Fio.isDirectory(stagingRoot) && Fio.listNames(stagingRoot).isEmpty)
        Fio.delete(stagingRoot)
    }
    override def abort(): Unit = AtomicDir.deleteInBackground(writeDir)

    /** Rename every staged FILE over its destination, recursing into
      * nested keys (a `/`-separated zarr's `cz/cy/cx`): renaming a staged
      * directory would replace the store's whole subtree.
      */
    private def publishFiles(src: String, dst: String): Unit =
      Fio.list(src).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          Fio.mkdirs(Fio.child(dst, name))
          publishFiles(Fio.child(src, name), Fio.child(dst, name))
        } else Fio.renameOverwrite(Fio.child(src, name), Fio.child(dst, name))
      }
  }
}
