package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import graft.streaming.NioLocalFs

/** The `file:` FileContext of graft sessions writes checkpoints exactly as
  * Hadoop's `LocalFs` does. */
class CheckpointFsSpec extends SparkSuite {

  test("the session's file: FileContext is graft's NioLocalFs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(AbstractFileSystem.get(new URI("file:///"), conf).isInstanceOf[NioLocalFs])
  }

  test("createAtomic and rename leave LocalFs's files, .crc sidecars and permissions") {
    /** Relative path → (permissions, bytes) of every file and directory. */
    def snapshot(root: java.nio.file.Path): Map[String, (String, Seq[Byte])] =
      Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          (java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
            if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
      }.toMap
    def write(impl: String): Map[String, (String, Seq[Byte])] = {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.AbstractFileSystem.file.impl", impl)
      val root = Files.createTempDirectory("graft-ckpt")
      val fm = new FileContextBasedCheckpointFileManager(new Path(root.toUri), conf)
      fm.mkdirs(new Path(root.toUri.resolve("offsets")))
      Seq("offsets/0" -> false, "offsets/1" -> false, "offsets/1" -> true).zipWithIndex
        .foreach { case ((name, overwrite), i) =>
          val out = fm.createAtomic(new Path(root.toUri.resolve(name)), overwrite)
          out.write(s"batch $i\n".getBytes("UTF-8"))
          out.close()
        }
      fm.renameTempFile(new Path(root.toUri.resolve("offsets/0")),
        new Path(root.toUri.resolve("offsets/2")), overwriteIfPossible = false)
      snapshot(Paths.get(root.toUri))
    }
    val graft = write(classOf[NioLocalFs].getName)
    assert(graft == write("org.apache.hadoop.fs.local.LocalFs"))
    assert(graft.keySet == Set("offsets", "offsets/1", "offsets/.1.crc", "offsets/2",
      "offsets/.2.crc"), graft.keySet)
  }
}
