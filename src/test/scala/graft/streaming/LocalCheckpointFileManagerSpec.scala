package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.commons.io.{FileUtils, IOUtils}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The engine's checkpoint manager keeps the guarantees of Spark's stock
  * local manager: checksummed files, write-then-rename atomicity, no
  * silent overwrite, and the file modes Hadoop's `chmod` would set. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-cfm")
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def manager(dir: JPath, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(hpath(dir), conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(IOUtils.toByteArray(in), UTF_8) finally in.close()
  }

  private def mode(f: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f))

  test("createAtomic writes the file and its .crc; a flipped byte fails open") {
    withDir { dir =>
      val fm = manager(dir)
      val p = hpath(dir.resolve("0"))
      write(fm, p, "v1\n{\"batchWatermarkMs\":0}")
      assert(read(fm, p) == "v1\n{\"batchWatermarkMs\":0}")
      assert(Files.exists(dir.resolve(".0.crc")), "Hadoop checksum file missing")

      val data = Files.readAllBytes(dir.resolve("0"))
      data(1) = (data(1) ^ 0x01).toByte
      Files.write(dir.resolve("0"), data)
      intercept[ChecksumException](read(fm, p))
    }
  }

  test("createAtomic without overwrite onto an existing file throws and keeps it") {
    withDir { dir =>
      val fm = manager(dir)
      val p = hpath(dir.resolve("1"))
      write(fm, p, "old")
      intercept[FileAlreadyExistsException](write(fm, p, "new"))
      assert(read(fm, p) == "old")
      write(fm, p, "new", overwrite = true)
      assert(read(fm, p) == "new")
    }
  }

  test("cancel leaves neither the target nor a temp file behind") {
    withDir { dir =>
      val out = manager(dir).createAtomic(hpath(dir.resolve("2")),
        overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(dir.toFile.list().isEmpty,
        s"left behind: ${dir.toFile.list().mkString(", ")}")
    }
  }

  test("files and directories get the umask-applied modes Hadoop's chmod sets") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val files = Seq("state/0", "state/0/1.delta", "state/0/.1.delta.crc")
    withDir { dir =>
      write(manager(dir, conf), hpath(dir.resolve("state/0/1.delta")), "d")
      assert(files.map(f => mode(dir.resolve(f))) ==
        Seq("rwxr-x---", "rw-r-----", "rw-r-----"))

      // the same write through Hadoop's stock local filesystem, which forks
      // chmod, gives the same modes
      withDir { stockDir =>
        val stock = FileSystem.newInstance(URI.create("file:///"), conf)
        try stock.create(hpath(stockDir.resolve("state/0/1.delta")), true).close()
        finally stock.close()
        assert(files.map(f => mode(dir.resolve(f))) ==
          files.map(f => mode(stockDir.resolve(f))))
      }
    }
  }

  test("a session's file: checkpoints resolve to the engine's manager") {
    withDir { dir =>
      val fm = CheckpointFileManager.create(hpath(dir.resolve("ckpt")),
        SparkTestSession.spark.sessionState.newHadoopConf())
      assert(fm.isInstanceOf[LocalCheckpointFileManager], fm.getClass.getName)
      assert(fm.isLocal)
    }
  }
}
