package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** The one memo of built ANN indexes: build once per corpus, probe many
  * times. An entry is found by its builder and parameters, by each input
  * frame (`Dataset.sameSemantics`: two fresh reads of a path are equal,
  * a filtered frame is not the unfiltered one) and by the sorted
  * (path, length, modificationTime) of every file those frames read,
  * from the listing the read already made (no I/O). A file rewritten in
  * place changes only those stamps: the lookup misses and releases the
  * stale entry. [[clear]] is the one reset (`clearCache()` cannot touch
  * the indexes' staged frames). */
object IndexCache {

  /** A built index; `release()` frees the staged frames it owns. */
  trait Index { def release(): Unit }

  private final case class Entry(build: String, frames: Seq[DataFrame],
                                 files: Seq[(String, Long, Long)],
                                 index: Index)
  private val entries = ArrayBuffer.empty[Entry]

  private def files(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.listFiles(Nil, Nil) }
      .flatten.flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))

  /** The index `build` made over `frames`; `make` builds it on a miss.
    * The lock is reentrant, so `make` may look up the indexes it
    * composes, and no index is built twice. */
  def apply[I <: Index](build: String, frames: DataFrame*)(make: => I): I =
    synchronized {
      val stamps = frames.flatMap(files).sorted
      val (fresh, stale) = entries.filter(e => e.build == build &&
        e.frames.corresponds(frames)(_ sameSemantics _))
        .partition(_.files == stamps)
      fresh.headOption.fold[Index] {
        stale.foreach(_.index.release())
        entries --= stale
        val index = make
        entries += Entry(build, frames, stamps, index)
        index
      }(_.index).asInstanceOf[I]
    }

  /** Release every memoized index and forget it. */
  def clear(): Unit = synchronized {
    entries.foreach(_.index.release())
    entries.clear()
  }
}
