package graft.index

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The identity of an index SNAPSHOT: the sorted (path, length,
  * modification time) of every file under the corpus table the index
  * derives from and under the index root. Listing both costs a few
  * milliseconds and no Spark job. Every index write goes through fresh
  * part files, so any change an index check can see — a rebuild, an
  * append, a torn append, a deleted artifact dir, a corpus overwritten
  * in place, a rewritten meta — moves the token. The one change it
  * cannot see is a rewrite that keeps every path, length and mtime. */
private[graft] final case class SnapshotToken(files: Seq[(String, Long, Long)]) {
  /** A short digest, for keying memos derived from the snapshot. */
  lazy val id: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { case (path, len, mtime) =>
      md.update(s"$path\u0000$len\u0000$mtime\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

private[index] final case class SnapshotEntry[M](corpusDir: String,
    shardSource: String, token: SnapshotToken, meta: M)

/** Validated snapshots of one index type, one entry per root: the meta
  * an `ensure` check accepted, the (corpusDir, shardSource) it was
  * accepted for, and the token of the files it was accepted at. An
  * entry counts only while a fresh listing still equals its token, so
  * `ensure` pays the full content check once per snapshot and the
  * serve paths read meta from memory. A full write records its own
  * result; any other change to the files leaves the entry unmatched. */
private[index] final class IndexSnapshots[M](corpusTable: String) {

  private val entries = new ConcurrentHashMap[String, SnapshotEntry[M]]()

  def token(spark: SparkSession, corpusDir: String,
      root: String): SnapshotToken = {
    val conf = spark.sparkContext.hadoopConfiguration
    // listStatus, not listFiles: a LocatedFileStatus loads owner and
    // permissions per file, which on a local filesystem without the
    // native library forks a process each
    def files(path: Path): Seq[(String, Long, Long)] =
      try path.getFileSystem(conf).listStatus(path).toSeq.flatMap { f =>
        if (f.isDirectory) files(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      } catch { case _: java.io.FileNotFoundException => Nil }
    SnapshotToken((files(new Path(s"$corpusDir/$corpusTable.parquet")) ++
      files(new Path(root))).sorted)
  }

  /** True iff `root` was validated for (corpusDir, shardSource) at
    * exactly the files `tok` lists. */
  def holds(root: String, corpusDir: String, shardSource: String,
      tok: SnapshotToken): Boolean =
    Option(entries.get(root)).exists(e => e.token == tok &&
      e.corpusDir == corpusDir && e.shardSource == shardSource)

  /** The entry for `root` if its files have not changed since. */
  def current(spark: SparkSession, root: String): Option[SnapshotEntry[M]] =
    Option(entries.get(root))
      .filter(e => token(spark, e.corpusDir, root) == e.token)

  def recordAt(root: String, tok: SnapshotToken, corpusDir: String,
      shardSource: String, meta: M): Unit =
    entries.put(root, SnapshotEntry(corpusDir, shardSource, tok, meta))

  /** Record `meta` as valid for (corpusDir, shardSource) at the files
    * `root` holds now — for writers whose result is valid by
    * construction. */
  def record(spark: SparkSession, root: String, corpusDir: String,
      shardSource: String, meta: M): Unit =
    recordAt(root, token(spark, corpusDir, root), corpusDir, shardSource,
      meta)

  /** Forget `root`'s entry — every mutation other than a full write
    * calls this before it touches the files, so the next `ensure` runs
    * the full check once on what the mutation left. */
  def drop(root: String): Unit = entries.remove(root)
}
