package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LocalFs

/** [[LocalFs]] against Hadoop's local file system, in both client
  * APIs: the same calls on sibling trees leave the same names, sizes,
  * contents and mode bits (sticky bit included, read as `unix:mode`),
  * and link-status answers are equal. */
class LocalFsSpec extends AnyFunSuite {

  private val Root = URI.create("file:///")
  private val Umasks = Seq("022", "027")

  private def conf(umask: String, extra: Map[String, String] = Map.empty): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Ours through the same conf keys the pipeline sets; Hadoop's under
    * the same umask. */
  private def fileSystems(umask: String): (FileSystem, FileSystem) = {
    val ours = FileSystem.get(Root, conf(umask, LocalFs.writeOptions))
    val hadoop = new LocalFileSystem()
    hadoop.initialize(Root, conf(umask))
    (ours, hadoop)
  }

  private def fileContexts(umask: String): (FileContext, FileContext) =
    (FileContext.getFileContext(Root, conf(umask, Map(LocalFs.AfsKey -> classOf[LocalFs.Afs].getName))),
      FileContext.getLocalFSFileContext(conf(umask)))

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  /** Every entry below `root`: relative name -> (octal mode, content or "<dir>"). */
  private def tree(root: JPath): Map[String, (String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> (Integer.toOctalString(mode(p)),
        if (Files.isDirectory(p)) "<dir>" else new String(Files.readAllBytes(p), UTF_8))
    }.toMap

  private def hpath(p: JPath): Path = new Path(p.toString)

  private def write(fs: FileSystem, p: Path, text: String, perm: Option[FsPermission] = None): Unit = {
    val out = perm.fold(fs.create(p))(fs.create(p, _, true, 4096, 1.toShort, 1L << 25, null))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def write(fc: FileContext, p: Path, text: String, opts: Options.CreateOpts*): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      (Options.CreateOpts.createParent() +: opts): _*)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** A status as the fields callers read, or the exception thrown. */
  private def linkStatus(get: => FileStatus): String = Try(get).fold(
    e => s"${e.getClass.getName}: ${e.getMessage}",
    st => s"${st.getPath} dir=${st.isDirectory} file=${st.isFile} link=${st.isSymlink} " +
      s"len=${st.getLen} target=${if (st.isSymlink) st.getSymlink else "-"}")

  /** A regular file, a dir, a symlink, a dangling symlink and a missing
    * path, each unqualified and `file:`-qualified. */
  private def linkCases(base: JPath): Seq[Path] = {
    val file = Files.write(base.resolve("file"), "x".getBytes(UTF_8))
    val dir = Files.createDirectory(base.resolve("dir"))
    val link = Files.createSymbolicLink(base.resolve("link"), file)
    val dangling = Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
    Seq(file, dir, link, dangling, base.resolve("missing"))
      .flatMap(p => Seq(hpath(p), new Path(p.toUri)))
  }

  test("the conf keys select LocalFs; the FileSystem form is not cached") {
    val (ours, hadoop) = fileSystems("022")
    assert(ours.isInstanceOf[LocalFs.Fs])
    assert(!hadoop.isInstanceOf[LocalFs.Fs])
    assert(FileSystem.get(Root, conf("022", LocalFs.writeOptions)) ne ours)
    assert(!FileSystem.get(Root, conf("022")).isInstanceOf[LocalFs.Fs])
    val (fc, _) = fileContexts("022")
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
  }

  test("FileSystem form: mkdirs, create and setPermission leave Hadoop's modes and .crc files") {
    for (umask <- Umasks) {
      val (ours, hadoop) = fileSystems(umask)
      val base = Files.createTempDirectory("localfs-fs")
      val trees = Seq("ours" -> ours, "hadoop" -> hadoop).map { case (name, fs) =>
        val root = Files.createDirectory(base.resolve(name))
        val r = hpath(root)
        assert(fs.mkdirs(new Path(r, "a/b")))
        assert(fs.mkdirs(new Path(r, "a/c"), new FsPermission("750")))
        write(fs, new Path(r, "a/b/part-0"), "rows")
        write(fs, new Path(r, "a/c/part-1"), "more rows", Some(new FsPermission("640")))
        write(fs, new Path(r, "a/_SUCCESS"), "")
        fs.setPermission(new Path(r, "a/b/part-0"), new FsPermission("600"))
        assert(fs.mkdirs(new Path(r, "sticky")))
        fs.setPermission(new Path(r, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        assert((mode(root.resolve("sticky")) & Integer.parseInt("1000", 8)) != 0, s"$name, umask $umask")
        Seq("a/b/.part-0.crc", "a/c/.part-1.crc", "a/._SUCCESS.crc").foreach(c =>
          assert(Files.exists(root.resolve(c)), s"$name, umask $umask: $c"))
        tree(root)
      }
      assert(trees(0) == trees(1), s"umask $umask")
    }
  }

  test("FileContext form: mkdir, create and setPermission leave Hadoop's modes and .crc files") {
    for (umask <- Umasks) {
      val (ours, hadoop) = fileContexts(umask)
      val base = Files.createTempDirectory("localfs-fc")
      val trees = Seq("ours" -> ours, "hadoop" -> hadoop).map { case (name, fc) =>
        val root = Files.createDirectory(base.resolve(name))
        val r = hpath(root)
        fc.mkdir(new Path(r, "offsets/x"), FsPermission.getDirDefault, true)
        fc.mkdir(new Path(r, "commits"), new FsPermission("750"), false)
        write(fc, new Path(r, "offsets/0"), "v1\n{}")
        write(fc, new Path(r, "commits/0"), "v1\n{}", Options.CreateOpts.perms(new FsPermission("640")))
        fc.setPermission(new Path(r, "offsets/0"), new FsPermission("600"))
        fc.mkdir(new Path(r, "sticky"), FsPermission.getDirDefault, false)
        fc.setPermission(new Path(r, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        assert((mode(root.resolve("sticky")) & Integer.parseInt("1000", 8)) != 0, s"$name, umask $umask")
        Seq("offsets/.0.crc", "commits/.0.crc").foreach(c =>
          assert(Files.exists(root.resolve(c)), s"$name, umask $umask: $c"))
        tree(root)
      }
      assert(trees(0) == trees(1), s"umask $umask")
    }
  }

  test("getFileLinkStatus answers as Hadoop does for files, links, dangling links and missing paths") {
    val paths = linkCases(Files.createTempDirectory("localfs-link"))
    val (ours, hadoop) = fileSystems("022")
    val (oursFc, hadoopFc) = fileContexts("022")
    for (p <- paths) {
      val expected = linkStatus(hadoop.getFileLinkStatus(p))
      assert(linkStatus(ours.getFileLinkStatus(p)) == expected, p)
      assert(linkStatus(hadoopFc.getFileLinkStatus(p)) == linkStatus(oursFc.getFileLinkStatus(p)), p)
    }
    // the cases do reach every branch of Hadoop's answer
    val answers = paths.map(p => linkStatus(hadoop.getFileLinkStatus(p)))
    assert(answers.exists(_.contains("link=true")))
    assert(answers.exists(_.contains("dir=true")))
    assert(answers.exists(_.startsWith(classOf[FileNotFoundException].getName)))
  }

  test("FileContext rename with OVERWRITE leaves the same tree") {
    val (ours, hadoop) = fileContexts("022")
    val base = Files.createTempDirectory("localfs-rename")
    val trees = Seq("ours" -> ours, "hadoop" -> hadoop).map { case (name, fc) =>
      val root = Files.createDirectory(base.resolve(name))
      val r = hpath(root)
      write(fc, new Path(r, "commits/.1.tmp"), "v1\n{\"nextBatchWatermarkMs\":0}")
      write(fc, new Path(r, "commits/1"), "stale")
      write(fc, new Path(r, "commits/.2.tmp"), "v1\n{}")
      fc.rename(new Path(r, "commits/.1.tmp"), new Path(r, "commits/1"), Options.Rename.OVERWRITE)
      fc.rename(new Path(r, "commits/.2.tmp"), new Path(r, "commits/2"), Options.Rename.OVERWRITE)
      tree(root)
    }
    assert(trees(0) == trees(1))
    assert(trees(0)("commits/1")._2 == "v1\n{\"nextBatchWatermarkMs\":0}")
    assert(trees(0).keySet == Set("commits", "commits/1", "commits/.1.crc", "commits/2", "commits/.2.crc"))
  }
}
