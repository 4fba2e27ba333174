package graft.volume

import graft.io.{Fio, FioConf}

/** The one landing protocol of every zarr write and append (the
  * [[ZarrStore]], [[Zarr3Store]] and [[ChunkStore]] writers and
  * appenders, the DSv2 `format("zarr")` sink, the [[PyramidWriter]]
  * group): files land in [[dir]], never at a live path, and [[commit]]
  * publishes all of them or [[abort]] none. [[Landing.open]]'s one rule
  * picks the form: a write extending an array whose document exists is an
  * append; any other write (truncating, or an array's first) is a swap.
  *
  *  - [[Landing.Swap]] builds the whole store in a hidden temp sibling and
  *    publishes it with O(1) renames ([[AtomicDir]]).
  *  - [[Landing.Append]] lands files under a hidden `.__staging/<id>/`
  *    inside the store and renames each over its live key at commit:
  *    O(files landed) metadata work, never O(store). Readers never see
  *    staging (they address chunks by coordinate and never list), and
  *    each chunk reads old or new, never torn.
  *
  * A [[ChunkStore]] label index rides on the commit: an indexed landing's
  * entries are written into a swap before it publishes, or merged into
  * the store after an append's files publish; an unindexed append drops
  * the index before its chunks publish, as they would outdate it.
  */
private[graft] sealed abstract class Landing(implicit fc: FioConf) {
  /** The store's qualified path. */
  val dest: String
  /** Where this write lands its files. */
  val dir: String

  /** Create [[dir]] and write the documents `docs` (name → body, the
    * array document first) into it: all of them on a swap; on an append,
    * `check` the store's array document, then only those the store lacks.
    */
  def stageDocs(docs: Seq[(String, String)])(check: String => Unit): Unit

  /** Publish every landed file, with an indexed landing's index entries. */
  def commit(index: Option[Seq[ChunkStore.IndexEntry]]): Unit

  def abort(): Unit = AtomicDir.deleteInBackground(dir)

  protected def writeDocs(docs: Seq[(String, String)]): Unit = {
    Fio.mkdirs(dir)
    docs.foreach { case (name, body) => Fio.writeString(Fio.child(dir, name), body) }
  }
}

private[graft] object Landing {

  /** An [[Append]] when `appendTo` names an array document that exists
    * at `path`, else a [[Swap]] (`None`: the write truncates). Sweeps the
    * temp/trash siblings crashed writes left.
    */
  def open(path: String, appendTo: Option[String])(implicit fc: FioConf): Landing = {
    val d = Fio.qualify(path)
    AtomicDir.sweepLeftovers(d)
    if (appendTo.exists(doc => Fio.exists(Fio.child(d, doc)))) new Append(d) else new Swap(d)
  }

  /** One write: `body` lands its files (returning an indexed landing's
    * entries), then commit; if `body` throws, abort and rethrow.
    */
  def run(path: String, appendTo: Option[String])(body: Landing => Option[Seq[ChunkStore.IndexEntry]])(
      implicit fc: FioConf): Unit = {
    val l = open(path, appendTo)
    val index = try body(l) catch { case e: Throwable => l.abort(); throw e }
    l.commit(index)
  }

  final class Swap(val dest: String)(implicit fc: FioConf) extends Landing {
    val dir: String = AtomicDir.tempSibling(dest)
    def stageDocs(docs: Seq[(String, String)])(check: String => Unit): Unit = writeDocs(docs)
    def commit(index: Option[Seq[ChunkStore.IndexEntry]]): Unit = {
      index.foreach(ChunkStore.mergeStatsIndex(dir, _))
      AtomicDir.publish(dir, dest)
    }
  }

  /** Creating the staging dir sweeps `.__staging/<id>` leftovers of
    * crashed appends: O(crashed jobs) entries, never the chunk files.
    */
  final class Append(val dest: String)(implicit fc: FioConf) extends Landing {
    private val stagingRoot = Fio.child(dest, ".__staging")
    val dir: String = {
      if (Fio.isDirectory(stagingRoot))
        Fio.listNames(stagingRoot).foreach(n => AtomicDir.deleteInBackground(Fio.child(stagingRoot, n)))
      Fio.child(stagingRoot, java.util.UUID.randomUUID().toString.take(8))
    }

    def stageDocs(docs: Seq[(String, String)])(check: String => Unit): Unit = {
      check(Fio.readString(Fio.child(dest, docs.head._1)))
      writeDocs(docs.tail.filterNot { case (name, _) => Fio.exists(Fio.child(dest, name)) })
    }

    def commit(index: Option[Seq[ChunkStore.IndexEntry]]): Unit = {
      if (index.isEmpty) ChunkStore.dropStatsIndex(dest)
      publishFiles(dir, dest)
      Fio.delete(dir)
      // drop the (now usually empty) staging root; a concurrent writer's
      // live dir makes this fail harmlessly
      if (Fio.isDirectory(stagingRoot) && Fio.listNames(stagingRoot).isEmpty)
        Fio.delete(stagingRoot)
      index.foreach(ChunkStore.mergeStatsIndex(dest, _))
    }

    /** Rename every staged FILE over its destination, recursing into
      * nested keys (`c/z/y/x`): renaming a staged directory would replace
      * the store's whole subtree.
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
