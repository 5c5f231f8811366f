package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reader for engine-owned parquet paths: [[Tables]] (tables and
  * stored fixtures) and the persisted IVF index. It caches inferred
  * schemas, because `spark.read.parquet(path)` with no schema runs a
  * Spark job to read a footer, and query construction would otherwise
  * pay that job on every load.
  *
  * The cache holds ONE entry per path, so it is bounded by the number
  * of distinct paths a process reads. An entry is used only while both
  * halves of its key still match:
  *   - the path's file listing: every file's relative path, size and
  *     mtime, as [[Tables.dirFingerprint]] also builds it, so a
  *     rewritten or appended dataset re-infers; and
  *   - the session's values of the confs that change parquet schema
  *     inference ([[inferenceConfs]]), so a flipped conf re-infers.
  * A file rewritten in place with identical size AND mtime keeps its
  * old schema. Paths `java.io.File` cannot list (non-local file
  * systems) are read uncached. Files the engine has never seen
  * (`Ingest.importParquet`) and catalog tables with a declared schema
  * (`Catalog.load`) do not come through here.
  */
object CachedParquet {
  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class Entry(files: Seq[String],
      confs: Seq[Option[String]], schema: StructType)

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** `spark.read.parquet(path)` that infers a path's schema once and
    * passes it on later reads, which then start no Spark job. The
    * inference runs outside any map lock (`Server` builds queries on a
    * pool): two threads missing together both infer and the last `put`
    * wins. That is safe because the listing is taken BEFORE the
    * inference, so an entry can only be keyed on an older listing than
    * the schema it holds, never a newer one.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = listing(new java.io.File(path))
    if (files.isEmpty) return spark.read.parquet(path)
    val confs = inferenceConfs.map(spark.conf.getOption)
    Option(schemas.get(path)) match {
      case Some(e) if e.files == files && e.confs == confs =>
        spark.read.schema(e.schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(path, Entry(files, confs, df.schema))
        df
    }
  }

  /** `relpath:size:mtime` of every file under `root` in path order
    * (for a plain file, just its own `name:size:mtime`); empty when
    * `root` does not exist.
    */
  private[graft] def listing(root: java.io.File): Seq[String] = {
    def walk(f: java.io.File, rel: String): Seq[String] =
      Option(f.listFiles()) match {
        case Some(children) => children.sortBy(_.getName).toSeq
          .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
        case None if f.isFile => Seq(s"$rel:${f.length}:${f.lastModified}")
        case None => Nil
      }
    walk(root, if (root.isDirectory) "" else root.getName)
  }
}
