package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable

/** The one reader and writer of the statistics graft keeps in a store's
  * table properties: the near-dup stores' bucket-row bound
  * ([[graft.pipeline.Dedup.BucketRowBoundProp]]) and the spatial store's
  * heavy-cell histogram, cell bound and cell summary
  * ([[graft.join.SpatialJoin.CellHistogramProp]],
  * [[graft.join.SpatialJoin.MaxCellRowsProp]],
  * [[graft.join.SpatialJoin.CellSummaryProp]]).
  *
  * The contract. A statistic describes the data files its table held
  * when it was measured, and is stamped as `<payload>@<fingerprint>` in
  * one ALTER TABLE: the fingerprint is a SHA-256 of those files'
  * relative paths, lengths and mtimes ([[Files]]). A read returns the
  * payload only while the fingerprint matches the files the table holds
  * now. Any write that adds, removes or rewrites a data file — graft's
  * own, a plain `INSERT INTO`, another engine — leaves every statistic
  * stamped before it unreadable, and the doors take their census or
  * recompute path until a graft write, compaction or stamping door
  * stamps it again. So no writer unsets a statistic around a write: a
  * write that fails midway either changed the files, and the stamp no
  * longer reads, or did not, and the stamp is still true. A metastore
  * that truncates a long value cuts the fingerprint off, which leaves
  * the value unreadable too, and a value stamped without a fingerprint
  * (by a writer older than this contract) reads as None until the next
  * graft write or compaction stamps it.
  *
  * A write carries a statistic forward ([[carry]]) only when the files
  * after it are the stamped files plus files of one write.
  *
  * Layout stamps (a store's params, grid cell size and geometry column)
  * are not statistics: they say how the rows were written, which a
  * foreign write of the same layout does not change, so they carry no
  * fingerprint and read as stored ([[Store.prop]]). */
private[graft] object StoreStamp {

  /** One data file: its path relative to the store location, its length
    * and its mtime. */
  type Entry = (String, Long, Long)

  /** A store's data files, sorted, and their fingerprint. */
  final case class Files(list: Seq[Entry]) {
    lazy val print: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      list.foreach { case (n, len, mtime) =>
        md.update(s"$n\t$len\t$mtime\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    /** `stats` as property values stamped for these files, for [[set]]. */
    def stamp(stats: (String, Any)*): Seq[(String, String)] =
      stats.map { case (k, v) => k -> s"$v@$print" }
  }
  object Files {
    /** The files before a write that creates or replaces a table. */
    val none: Files = Files(Nil)
  }

  /** A store's catalog entry. Its data files are listed once, on first
    * use: a writer that carries statistics across a write reads them
    * (and so lists the files) before it writes. */
  final class Store(spark: SparkSession, val table: CatalogTable) {
    lazy val files: Files = {
      val root = new Path(table.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
      // names starting with `_` or `.` (sidecars, `_SUCCESS`, checksums,
      // staging dirs) are not data to a scan. `listStatus` reads only
      // names, lengths and mtimes: `listFiles` builds
      // `LocatedFileStatus`es, which on the local file system load each
      // file's owner and permissions through a forked shell, about 7 ms
      // a file
      def walk(dir: Path, prefix: String): Unit =
        fs.listStatus(dir).foreach { f =>
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            if (f.isDirectory) walk(f.getPath, prefix + name + "/")
            else out += ((prefix + name, f.getLen, f.getModificationTime))
          }
        }
      if (fs.exists(root)) walk(root, "")
      Files(out.sorted.toSeq)
    }

    /** Property `key` as stored: a layout stamp. */
    def prop(key: String): Option[String] = table.properties.get(key)

    /** The payload of statistic `key` while its fingerprint matches the
      * files the store holds. */
    def stat(key: String): Option[String] = prop(key).flatMap { v =>
      val at = v.lastIndexOf('@')
      if (at < 0) None
      else if (v.substring(at + 1) == files.print) Some(v.substring(0, at))
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"${table.identifier.unquotedString} changed since its $key was " +
            "stamped — ignoring the stamp")
        None
      }
    }

    /** Sidecar file `name` of the current statistic `key`, parsed by
      * `parse` (given the stream and the file's length). The parse is
      * memoized by the stamped value, fingerprint included, and the
      * sidecar's length and mtime, so repeated reads of one stamp open
      * no file; [[writeSidecar]] seeds the memo with what it wrote. */
    def sidecar[T <: AnyRef](key: String, name: String)(
        parse: (java.io.InputStream, Long) => T): T = {
      val p = new Path(new Path(table.location), name)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val st = fs.getFileStatus(p)
      val want = Parsed(prop(key).getOrElse(""), st.getModificationTime, st.getLen, null)
      Option(memo.get(p.toString)).filter(_.copy(parsed = null) == want) match {
        case Some(hit) => hit.parsed.asInstanceOf[T]
        case None =>
          val in = fs.open(p)
          val t = try parse(in, st.getLen) finally in.close()
          memo.put(p.toString, want.copy(parsed = t))
          t
      }
    }
  }

  /** One memoized sidecar parse: the stamped value it belongs to, the
    * file's mtime and length, and the parsed payload. */
  private final case class Parsed(value: String, mtime: Long, len: Long, parsed: AnyRef)

  /** The last parse of each sidecar path, access-ordered, 16 paths at
    * most: a new stamp replaces its path's entry, so a store holds one
    * parsed payload however often it is restamped. */
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Parsed](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Parsed]): Boolean =
        size() > 16
    })

  /** The store `table` names; None when the name resolves to no catalog
    * table: a missing table or database, an unparseable name, a temp
    * view. Any other fault (a transient metastore failure) propagates. */
  def store(spark: SparkSession, table: String): Option[Store] =
    try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      Some(new Store(spark, spark.sessionState.catalog.getTableMetadata(id)))
    } catch { case _: AnalysisException => None }

  def store(spark: SparkSession, table: CatalogTable): Store = new Store(spark, table)

  /** Set `props` on `table` in one ALTER TABLE, then read them back: a
    * value that did not round-trip (a metastore value limit) throws, so
    * the writer can say so. A truncated statistic has lost its
    * fingerprint and reads as None; a layout stamp is checked by value. */
  def set(spark: SparkSession, table: String, props: Seq[(String, String)]): Unit = {
    spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(table)} SET TBLPROPERTIES (" +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")
    val back = store(spark, table).map(_.table.properties).getOrElse(Map.empty)
    val lost = props.collect { case (k, v) if !back.get(k).contains(v) => k }
    if (lost.nonEmpty)
      throw new IllegalStateException(s"$table: ${lost.mkString(", ")} did not " +
        "round-trip through the catalog (a metastore value limit?) — the " +
        "stamp does not read")
  }

  /** Spark names every part file of one write with that write's job
    * UUID. */
  private val WriteId =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** The files `table` holds after a write, when they are `before`, each
    * unchanged, plus only files of ONE write (one job UUID in their
    * names): the statistics stamped for `before` plus the write's own
    * are then stamped for them. `before` is [[Files.none]] for a write
    * that created or replaced the table. None when anything else
    * changed: another writer got in, and the statistics are left to go
    * unreadable. */
  def carry(spark: SparkSession, table: String, before: Files): Option[Files] =
    store(spark, table).map(_.files).filter { after =>
      val prior = before.list.toSet
      val added = after.list.filterNot(prior).map(f => WriteId.findFirstIn(f._1))
      prior.subsetOf(after.list.toSet) && added.forall(_.isDefined) &&
        added.distinct.size <= 1
    }

  /** Write sidecar file `name` at `location` for the stamped value
    * `value`, and memoize `parsed` as its parse. */
  def writeSidecar(spark: SparkSession, location: java.net.URI, name: String,
      value: String, parsed: AnyRef)(write: java.io.OutputStream => Unit): Unit = {
    val p = new Path(new Path(location), name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try write(out) finally out.close()
    val st = fs.getFileStatus(p)
    memo.put(p.toString, Parsed(value, st.getModificationTime, st.getLen, parsed))
  }

  /** Best-effort delete of sidecar file `name` at `location`: a leftover
    * file is unreferenced. */
  def deleteSidecar(spark: SparkSession, location: java.net.URI, name: String): Unit =
    try {
      val p = new Path(new Path(location), name)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, false)
    } catch { case scala.util.control.NonFatal(_) => () }
}
