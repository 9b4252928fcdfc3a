package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** Keyed, persisted index tables, built only on a miss.
  *
  * `get(key, deps: _*)(build)` holds at most ONE persisted DataFrame per
  * key. A lookup is a HIT when both hold:
  *  - the stored `deps` equal the given ones (element-wise `==`); and
  *  - the bounded filesystem fingerprint of the stored DataFrame's file
  *    roots is unchanged.
  * A hit returns the stored DataFrame and never evaluates `build`, so a
  * query that runs again pays neither the declaration nor the analysis
  * of the plan that builds its index. A MISS unpersists the previous
  * entry, evaluates `build`, persists it (MEMORY_AND_DISK, lazily) and
  * records it. A `build` that throws leaves no entry behind.
  *
  * `deps` must name everything the build reads other than file content:
  * the session, the scale dir, each conf the build reads, and, for an
  * index built over another key's DataFrame, that upstream DataFrame (a
  * rebuilt upstream is a new object, so the keys over it rebuild too).
  * DataFrames and sessions compare by reference. A key has one builder
  * function; two spellings under one key would share an index silently
  * (CacheOnceSpec scans `src/main` for this).
  *
  * The fingerprint guards what `deps` cannot see: a fixture regenerated
  * in place at a path that is already cached. It is a breadth-first
  * walk over each file root capped at [[MaxDirs]] `listStatus` calls;
  * each visited directory contributes one aggregate line (own mtime,
  * file-child count, total length, max file mtime), so a rewrite nested
  * inside a partition subdirectory changes it too. Driver-side metadata
  * only, no job, O(directories) and hard-capped. It misses (a) a
  * same-millisecond, same-length in-place rewrite of a leaf file, and
  * (b) a rewrite strictly below the [[MaxDirs]] frontier, whose
  * directories are recorded by their own mtime only. Fixture trees are
  * far below the cap, so in tests the walk is exhaustive.
  */
object CacheOnce {
  private final case class Entry(df: DataFrame, deps: Seq[Any], fp: Seq[String])

  private val cached = scala.collection.concurrent.TrieMap.empty[String, Entry]

  /** Lookup log for bench attribution: one (key, hit) entry per get()
    * call. Bench and perfbench drain it around a query's trials to tell
    * an index hit from a fresh build. */
  private val events =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]

  def drainEvents(): Seq[(String, Boolean)] = {
    val b = Seq.newBuilder[(String, Boolean)]
    var e = events.poll()
    while (e != null) { b += e; e = events.poll() }
    b.result()
  }

  /** Block-manager materialization state of every registered key:
    * (fraction of cached partitions actually materialized, bytes in
    * memory, bytes on disk). A key whose buffers were never loaded (or
    * evicted wholesale) reads (0, 0, 0) — a trial that then touches it
    * pays the rebuild even though get() reports a hit. Driver-side
    * introspection only; no job. */
  def storageSnapshot(): Map[String, (Double, Long, Long)] =
    cached.toMap.map { case (key, Entry(df, _, _)) =>
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val st = try {
        df.queryExecution.withCachedData.collectFirst {
          case i: InMemoryRelation => i.cacheBuilder
        }.filter(_.isCachedColumnBuffersLoaded).flatMap { cb =>
          val rdd = cb.cachedColumnBuffers
          df.sparkSession.sparkContext.getRDDStorageInfo
            .find(_.id == rdd.id)
            .map(i => (if (i.numPartitions == 0) 0.0
                       else i.numCachedPartitions.toDouble / i.numPartitions,
                       i.memSize, i.diskSize))
        }.getOrElse((0.0, 0L, 0L))
      } catch { case _: Throwable => (0.0, 0L, 0L) }
      key -> st
    }

  /** Hard cap on listStatus calls per fingerprint — O(100) stats. */
  private val MaxDirs = 64

  /** One line per file-source root: `rootPath|dir-lines`, where each
    * visited directory yields `relPath@dirMtime:nFiles:totalLen:maxMtime`
    * over its DIRECT file children and each beyond-budget frontier
    * directory yields `relPath@dirMtime:dir`. Relative paths come from
    * URI paths on both sides, so scheme qualification differences
    * between the analyzed root and the listed children cannot embed
    * absolute paths. Non-file leaves contribute nothing; `deps` covers
    * them. */
  private def fingerprint(df: DataFrame): Seq[String] = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map { p =>
          val fs = p.getFileSystem(conf)
          if (!fs.exists(p)) s"$p:absent"
          else {
            val root = fs.getFileStatus(p)
            if (!root.isDirectory) s"$p@${root.getModificationTime}:${root.getLen}"
            else {
              val rootUri = fs.makeQualified(p).toUri.getPath
              def rel(s: org.apache.hadoop.fs.FileStatus): String =
                s.getPath.toUri.getPath.stripPrefix(rootUri)
              val lines = scala.collection.mutable.ArrayBuffer.empty[String]
              val queue = scala.collection.mutable.Queue(root)
              var visited = 0
              while (queue.nonEmpty) {
                val d = queue.dequeue()
                if (visited >= MaxDirs)
                  lines += s"${rel(d)}@${d.getModificationTime}:dir"
                else {
                  visited += 1
                  var n = 0L; var len = 0L; var maxM = 0L
                  fs.listStatus(d.getPath).foreach { k =>
                    if (k.isDirectory) queue += k
                    else {
                      n += 1; len += k.getLen
                      maxM = math.max(maxM, k.getModificationTime)
                    }
                  }
                  lines += s"${rel(d)}@${d.getModificationTime}:$n:$len:$maxM"
                }
              }
              s"$p|${lines.sorted.mkString(",")}"
            }
          }
        }
        case _ => Seq.empty[String]
      }
    }.flatten
  }

  /** Lookups are serialised, so concurrent callers of one key (the
    * pooled FuzzSpec legs) build it once. */
  def get(key: String, deps: Any*)(build: => DataFrame): DataFrame = synchronized {
    cached.get(key) match {
      case Some(e) if e.deps == deps && fingerprint(e.df) == e.fp =>
        events.add(key -> true): Unit
        e.df
      case _ =>
        cached.remove(key).foreach(_.df.unpersist(blocking = false))
        val p = build.persist(StorageLevel.MEMORY_AND_DISK)
        cached.put(key, Entry(p, deps, fingerprint(p)))
        events.add(key -> false): Unit
        p
    }
  }
}
