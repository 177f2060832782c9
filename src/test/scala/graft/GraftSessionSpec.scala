package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf.FILES_OPEN_COST_IN_BYTES
import org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES

import graft.sources.{PosixLocalFileSystem, Sinks}

class GraftSessionSpec extends SparkSpec {

  private def state(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  private def cacheEntries(s: SparkSession): Int =
    state(s).conf.getConf(CODEGEN_CACHE_MAX_ENTRIES)

  test("tune sizes the codegen cache for the engine's working set") {
    val s = spark.newSession()
    assert(cacheEntries(s) < GraftSession.CodegenCacheEntries)
    GraftSession.tune(s)
    assert(cacheEntries(s) == GraftSession.CodegenCacheEntries)
  }

  test("tune keeps a larger codegen cache set by the caller") {
    val s = spark.newSession()
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
      .setConfString(CODEGEN_CACHE_MAX_ENTRIES.key, "5000")
    GraftSession.tune(s)
    assert(cacheEntries(s) == 5000)
  }

  test("tune sets the file open cost and keeps a caller's explicit value") {
    val s = spark.newSession()
    assert(!state(s).conf.contains(FILES_OPEN_COST_IN_BYTES.key))
    GraftSession.tune(s)
    assert(state(s).conf.filesOpenCostInBytes == GraftSession.FileOpenCostBytes)
    val caller = spark.newSession()
    caller.conf.set(FILES_OPEN_COST_IN_BYTES.key, "8m")
    GraftSession.tune(caller)
    assert(state(caller).conf.filesOpenCostInBytes == 8L * 1024 * 1024)
  }

  test("tune installs the in-process local file system over a populated FileSystem cache") {
    val s = spark.newSession()
    val root = new java.net.URI("file:///")
    // the cache now holds the classpath's default `file` instance
    assert(!FileSystem.get(root, state(s).newHadoopConf()).isInstanceOf[PosixLocalFileSystem])
    GraftSession.tune(s)
    assert(FileSystem.get(root, state(s).newHadoopConf()).isInstanceOf[PosixLocalFileSystem])
  }

  test("a csvSingleFile write leaves the permission bits of Hadoop's own local file system") {
    val hadoopFs = GraftSession.tune(spark.newSession())
    hadoopFs.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    /** Mode of the output directory and of every file in it, part-file
      * names with their task and job ids cut out. */
    def modes(s: SparkSession): Map[String, String] = {
      val out = Files.createTempDirectory("perm").resolve("out")
      Sinks.csvSingleFile(s.range(20).toDF("x"), out.toString, Seq("x"))
      def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      val files = Files.list(out).toArray.toSeq.map(_.asInstanceOf[Path])
      files.map(p => p.getFileName.toString.replaceAll("part-[^.]*", "part") -> mode(p)).toMap +
        ("." -> mode(out))
    }
    val engine = modes(spark)
    assert(engine.keySet === Set(".", "part.csv", ".part.csv.crc", "_SUCCESS", "._SUCCESS.crc"))
    assert(engine === modes(hadoopFs))
    assert(engine(".") == "rwxr-xr-x" && engine("part.csv") == "rw-r--r--")
  }
}
