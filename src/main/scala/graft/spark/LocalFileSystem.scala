package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed `file:` filesystem over a raw layer that sets
  * permissions in-process. Without NativeIO, Hadoop's
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory it creates: every parquet part, checkpoint log, state-store
  * file and `.crc` sidecar. The `.crc` sidecars stay: only the raw layer
  * changes. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFileSystem.Raw)

object LocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    // `new FsPermission(bits)`: create paths pass an FsCreateModes, whose
    // toString is not the rwx form
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission) // sticky/ACL bits
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(new FsPermission(bits).toString))
    }
  }

  /** Makes the `file:` paths of every session of `spark`'s context use
    * this filesystem and returns `spark`. It is set on the context's Hadoop
    * configuration, which every session's Hadoop conf starts from, so one
    * call covers the sessions built before and after it; calling it again
    * changes nothing. Hadoop caches filesystems by scheme and user, not by
    * conf, so a `file:` filesystem the JVM built earlier (any session's
    * read) would shadow `fs.file.impl`; the cache is off for `file:`.
    *
    * A local warehouse directory is created here, in-process. The catalog
    * creates it (the default database's location) at its first table
    * write, through the shared state's Hadoop conf: a copy taken when the
    * first session started, maybe before this call, whose stock `file:`
    * filesystem forks `chmod` for a directory it creates. */
  def register(spark: SparkSession): SparkSession = {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = classOf[LocalFileSystem].getName
    if (conf.get("fs.file.impl") != impl) {
      conf.set("fs.file.impl.disable.cache", "true")
      conf.set("fs.file.impl", impl)
    }
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir")).toUri
    if (Option(warehouse.getScheme).forall(_ == "file"))
      Files.createDirectories(java.nio.file.Paths.get(warehouse.getPath))
    spark
  }

  /** Deletes `f` and everything under it, in-process: Spark's own
    * recursive delete forks `rm -rf`. */
  def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(): Unit
  }
}
