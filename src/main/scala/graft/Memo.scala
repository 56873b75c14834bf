package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The engine's one memo: a value computed once and served again while
  * the files it reads are unchanged. Key: an optional scope (the
  * SparkSession, for values that hold its checkpointed blocks), a name and
  * the input paths. An entry keeps the inputs' fingerprint — (path, size,
  * mtime) of every data file below them, by [[dataFiles]] — taken before
  * computing; a lookup that finds another fingerprint recomputes. A hit
  * costs one file-system walk: no Spark job, no file read, no session.
  * Entries of a stopped SparkContext are neither served nor kept; past
  * [[MaxEntries]] the least recently used goes.
  */
object Memo {

  val MaxEntries = 65536

  private final case class Key(scope: Option[SparkSession], name: String,
      inputs: Seq[String])
  private final class Entry(val stamps: Set[(String, Long, Long)], val value: Any)

  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) { // LRU order
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Entry]): Boolean = size > MaxEntries
    }
  // scopes owning entries, so a stopped one is swept once (guarded by entries)
  private val scopes = scala.collection.mutable.Set[SparkSession]()

  lazy val localConf: Configuration = new Configuration()

  /** `compute`'s value under (scope, name, inputs). `inputs` must be
    * exactly the files the value reads; a directory covers every data
    * file below it.
    */
  def apply[T](name: String, inputs: Seq[String],
      conf: Configuration = localConf,
      scope: Option[SparkSession] = None)(compute: => T): T = {
    val key = Key(scope, name, inputs)
    val stamps = inputs.flatMap { in =>
      val root = new Path(in) // missing: no stamps (the key still names it)
      try dataFiles(root.getFileSystem(conf), root)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      catch { case _: java.io.FileNotFoundException => Nil }
    }.toSet
    val live = scope.forall(!_.sparkContext.isStopped)
    entries.synchronized(Option(entries.get(key))) match {
      case Some(e) if live && e.stamps == stamps => e.value.asInstanceOf[T]
      case _ =>
        val v = compute
        entries.synchronized {
          val stopped = scopes.filter(_.sparkContext.isStopped)
          scopes --= stopped
          if (stopped.nonEmpty) entries.keySet.removeIf(_.scope.exists(stopped))
          if (live) {
            scope.foreach(scopes += _)
            entries.put(key, new Entry(stamps, v))
          }
        }
        v
    }
  }

  /** Data files under `root` by Spark's listing rule (HadoopFSUtils):
    * `.`-names, `_`-names without a partition `=` and `._COPYING_` files
    * are skipped at EVERY level, so leftover `_temporary/` or
    * `.spark-staging-*` parts never count. A file root is itself.
    */
  def dataFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(s => hidden(s.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(root))
  }
}
