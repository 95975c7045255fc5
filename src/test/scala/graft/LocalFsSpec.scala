package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LocalFs

/** The fork-free `file://` filesystem [[Sessions.local]] registers: it must
  * be what Hadoop resolves (the FS cache keys on scheme, not conf, so a
  * wrong instance cached first would win silently), set permissions exactly
  * as Hadoop's `chmod` path did, and keep the checksum layer.
  */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, appName = "localfs-spec")

  test("Sessions.local resolves file:// to the engine filesystem") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[LocalFs], fs.getClass.getName)
  }

  test("setPermission round-trips 0644, 0755 and 0700 through the JDK") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    val f = Files.createTempFile("graft-localfs-", ".bin")
    for ((mode, expect) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------")) {
      fs.setPermission(new Path(f.toUri), new FsPermission(mode))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == expect)
    }
  }

  test("partitioned parquet write and read round-trip and keep .crc side files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-localfs-").resolve("t").toString
    val df = (0 until 200).map(i => (i % 4, i.toLong, s"v$i")).toDF("b", "k", "v")
    df.write.partitionBy("b").parquet(dir)
    val back = spark.read.parquet(dir).select("b", "k", "v").as[(Int, Long, String)]
      .collect().sortBy(_._2).toSeq
    assert(back == df.as[(Int, Long, String)].collect().toSeq)
    val names = Files.walk(Paths.get(dir)).toArray.map(_.toString)
    assert(names.count(n => n.endsWith(".parquet") && !n.endsWith(".crc")) >= 4)
    assert(names.exists(_.endsWith(".parquet.crc")), "checksum side files missing")
  }
}
