package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase
import graft.model.Schemas

/** [[InProcessLocalFs]] against stock `LocalFs`: the same `FileContext`
  * calls leave the same files, bytes, modes and exceptions, a pipeline
  * installs it on its own session only, and a drained pipeline starts no
  * `readlink`/`chmod` process for its checkpoint files.
  */
class InProcessLocalFsSpec extends SparkTestBase {

  private def octal(digits: String): Int = Integer.parseInt(digits, 8)

  /** Spark's checkpoint protocol as `FileContextBasedCheckpointFileManager`
    * drives it, plus a mkdir under a setgid parent and the no-overwrite
    * paths. Returns one line per step: "ok" and its result, or the
    * exception, with `root` masked.
    */
  private def script(fc: FileContext, root: Path): Seq[String] = {
    val base = new HPath(root.toUri)
    def p(rel: String) = new HPath(base, rel)
    def write(rel: String, text: String, flags: CreateFlag*): Unit = {
      val out = fc.create(p(rel), EnumSet.copyOf(flags.asJava))
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    def step(name: String)(body: => Any): String = {
      val out =
        try s"ok $body"
        catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }
      s"$name: ${out.replace(root.toString, "<root>")}"
    }
    Seq(
      step("mkdir")(fc.mkdir(p("ckpt/offsets"), FsPermission.getDirDefault, true)),
      step("setgid")(Files.setAttribute(root.resolve("ckpt"), "unix:mode",
        Int.box(octal("2775")))),
      step("mkdir under setgid")(fc.mkdir(p("ckpt/state"), FsPermission.getDirDefault, false)),
      step("create")(write("ckpt/offsets/.0.tmp", "v1\n{\"a\":0}", CreateFlag.CREATE,
        CreateFlag.OVERWRITE)),
      step("rename")(fc.rename(p("ckpt/offsets/.0.tmp"), p("ckpt/offsets/0"))),
      step("create 2")(write("ckpt/offsets/.1.tmp", "v1\n{\"a\":1}", CreateFlag.CREATE,
        CreateFlag.OVERWRITE)),
      step("rename onto existing")(fc.rename(p("ckpt/offsets/.1.tmp"), p("ckpt/offsets/0"))),
      step("rename OVERWRITE")(fc.rename(p("ckpt/offsets/.1.tmp"), p("ckpt/offsets/0"),
        Options.Rename.OVERWRITE)),
      step("create existing")(write("ckpt/offsets/0", "x", CreateFlag.CREATE)),
      step("create in setgid dir")(write("ckpt/state/1.delta", "d", CreateFlag.CREATE)),
      step("delete")(assert(fc.delete(p("ckpt/state/1.delta"), false))),
      step("create 3")(write("ckpt/state/2.delta", "dd", CreateFlag.CREATE)),
      step("link")(Files.createSymbolicLink(root.resolve("ckpt/link"),
        root.resolve("ckpt/offsets/0"))),
      step("link status") {
        val st = fc.getFileLinkStatus(p("ckpt/link"))
        (st.isSymlink, st.isFile, st.getLen)
      })
  }

  /** (relative path, mode bits, bytes) of every entry under `root`. */
  private def tree(root: Path): Seq[(String, Int, Seq[Byte])] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { f =>
      (root.relativize(f).toString,
        Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & octal("7777"),
        if (Files.isRegularFile(f)) Files.readAllBytes(f).toSeq else Seq.empty[Byte])
    }.toSeq.sortBy(_._1)
    finally walk.close()
  }

  private def run(conf: Configuration): (Seq[String], Seq[(String, Int, Seq[Byte])], String) = {
    val root = Files.createTempDirectory("graft-fs").toRealPath()
    val fc = FileContext.getLocalFSFileContext(conf)
    val steps = script(fc, root)
    (steps, tree(root), fc.getDefaultFileSystem.getClass.getName)
  }

  test("the same FileContext calls leave what stock LocalFs leaves") {
    val (stockSteps, stockTree, stockFs) = run(new Configuration())
    val installed = new Configuration()
    installed.set(InProcessLocalFs.Setting._1, InProcessLocalFs.Setting._2)
    val (steps, files, fs) = run(installed)
    assert(stockFs == "org.apache.hadoop.fs.local.LocalFs")
    assert(fs == classOf[InProcessLocalFs].getName)
    assert(steps == stockSteps)
    assert(files == stockTree)
    // the comparison covers what it is meant to
    assert(steps.count(_.contains("org.apache.hadoop.fs.FileAlreadyExistsException")) == 2,
      steps.mkString("\n"))
    assert(steps.last == "link status: ok (false,true,10)")
    val modes = files.map(f => f._1 -> f._2).toMap
    assert(modes("ckpt/state") == octal("2755")) // setgid inherited, kept by the chmod
    assert(modes("ckpt/offsets/0") == octal("644"))
    assert(modes.contains("ckpt/offsets/.0.crc") && modes.contains("ckpt/state/.2.delta.crc"))
    assert(!modes.contains("ckpt/state/1.delta") && !modes.contains("ckpt/state/.1.delta.crc"))
    assert(new String(files.find(_._1 == "ckpt/offsets/0").get._3.toArray, UTF_8) ==
      "v1\n{\"a\":1}")
  }

  private val T0 = 1767225600000L // 2026-01-01T00:00:00Z

  /** A one-flush logs pipeline under a fresh temp dir. */
  private def logsFlush(): (Path, Pipelines.Config) = {
    val root = Files.createTempDirectory("graft-fs-logs").toRealPath()
    val src = Files.createDirectories(root.resolve("src"))
    Files.writeString(src.resolve("logs-0.json"),
      s"""{"appName":"fixture-app","appId":"app-001","executorId":"1",
         |"logTime":${T0 + 5000L},"loggerName":"org.apache.spark.executor.Executor",
         |"threadName":"Executor task launch worker-0","message":"Running task",
         |"level":{"intLevel":400,"name":"INFO","standardLevel":"INFO"},
         |"mdcTaskName":"task 1.0 in stage 2.0 (TID 42)"}""".stripMargin.replaceAll("\n", ""))
    (root, Pipelines.Config(
      sourceDir = src.toString,
      sinkRoot = root.resolve("tables").toString,
      checkpointRoot = root.resolve("ckpt").toString,
      availableNow = true))
  }

  test("a pipeline installs it on its own session only") {
    val (key, impl) = InProcessLocalFs.Setting
    val (_, conf) = logsFlush()
    val q = Pipelines.startLogs(spark, conf)
    q.awaitTermination()
    assert(q.sparkSession.conf.get(key) == impl)
    assert(spark.conf.getOption(key).isEmpty)
    assert(spark.sparkContext.hadoopConfiguration.get(key) ==
      "org.apache.hadoop.fs.local.LocalFs")
    assert(spark.read.parquet(conf.tablePath(Schemas.LogsTable)).count() == 1)
  }

  test("draining a pipeline starts no readlink or chmod on its checkpoint files") {
    val (root, conf) = logsFlush()
    // the offset, commit and source logs, and the sink's commit log
    val checkpointFiles = Seq(conf.checkpointRoot,
      s"${conf.tablePath(Schemas.LogsTable)}/_spark_metadata")
    val probe = Seq("readlink", s"${conf.checkpointRoot}/probe")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      Pipelines.startLogs(spark, conf).awaitTermination()
      // one known spawn: the recording and the filter below see processes
      new ProcessBuilder(probe: _*).start().waitFor()
    } finally rec.stop()
    val dump = root.resolve("spawns.jfr")
    rec.dump(dump)
    rec.close()
    // other suites share this JVM: keep only commands on this spec's files
    val spawned = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))
      .filter(c => Set("readlink", "chmod")(c.takeWhile(_ != ' ')) &&
        checkpointFiles.exists(c.contains))
    assert(spawned == Seq(probe.mkString(" ")), spawned.mkString("\n"))
    assert(spark.read.parquet(conf.tablePath(Schemas.LogsTable)).count() == 1)
  }
}
