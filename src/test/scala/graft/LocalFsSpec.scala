package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free local filesystem behaves as the stock one: the same mode
  * bits after `setPermission`, the same status for files, directories and
  * missing paths, the same `FileContext.rename` outcome with and without
  * OVERWRITE. Symlinks are the one deliberate difference: the stock class
  * hands `readlink` a `file:` URI and never sees a link, this one reports
  * links with their qualified targets.
  */
class LocalFsSpec extends AnyFunSuite {

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val forkFree = initialized(new ForkFreeRawLocalFileSystem)

  private def tmp(prefix: String): NioPath = java.nio.file.Paths.get(Scratch.dir(prefix))
  private def hpath(p: NioPath): Path = new Path(p.toUri)
  private def unixMode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission: every rwx mode leaves the same bits as stock; a sticky mode takes the stock path") {
    val dir = tmp("localfs-perm")
    for (octal <- Seq("0000", "0600", "0644", "0700", "0755", "0777", "1777");
         isDir <- Seq(false, true)) {
      val mode = Integer.parseInt(octal, 8)
      def twin(side: String): NioPath = {
        val p = dir.resolve(s"$side-$octal-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setPosixFilePermissions(p, java.nio.file.attribute.PosixFilePermissions.fromString("rw-r-----"))
        p
      }
      val (a, b) = (twin("stock"), twin("forkfree"))
      stock.setPermission(hpath(a), new FsPermission(mode.toShort))
      forkFree.setPermission(hpath(b), new FsPermission(mode.toShort))
      assert(unixMode(b) == unixMode(a), s"mode $octal (dir=$isDir)")
      assert((unixMode(b) & 0x1ff) == (mode & 0x1ff), s"mode $octal (dir=$isDir)")
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a))
    }
  }

  test("setPermission on a missing path fails with FileNotFoundException") {
    intercept[FileNotFoundException](
      forkFree.setPermission(hpath(tmp("localfs-miss").resolve("nope")), new FsPermission(0x1a4.toShort)))
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isFile, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getReplication, s.getBlockSize, s.getPermission, s.getOwner, s.getGroup)

  test("getFileLinkStatus: a file, a directory and a missing path read as stock") {
    val dir = tmp("localfs-stat")
    val file = Files.write(dir.resolve("f"), "abc".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    for (p <- Seq(file, sub))
      assert(fields(forkFree.getFileLinkStatus(hpath(p))) == fields(stock.getFileLinkStatus(hpath(p))))
    val missing = hpath(dir.resolve("missing"))
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFree.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFree.getLinkTarget(missing))
  }

  test("getFileLinkStatus: live and dangling symlinks are links with qualified targets") {
    val dir = tmp("localfs-link")
    val target = Files.write(dir.resolve("target"), "abc".getBytes("UTF-8"))
    val live = Files.createSymbolicLink(dir.resolve("live"), target.getFileName) // relative
    val absolute = Files.createSymbolicLink(dir.resolve("absolute"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    for ((link, to, raw) <- Seq((live, target, "target"), (absolute, target, target.toString),
        (dangling, dir.resolve("gone"), dir.resolve("gone").toString))) {
      val st = forkFree.getFileLinkStatus(hpath(link))
      assert(st.isSymlink && !st.isFile && !st.isDirectory, link)
      assert(st.getSymlink == forkFree.makeQualified(hpath(to)), link)
      assert(st.getPath == forkFree.makeQualified(hpath(link)))
      assert(forkFree.getLinkTarget(hpath(link)) == new Path(raw))
    }
    // a non-link has no target
    intercept[java.io.IOException](forkFree.getLinkTarget(hpath(target)))
    // FileContext sees the same link through the AbstractFileSystem twin
    val fc = fileContext(Some(classOf[ForkFreeLocalFs].getName))
    assert(fc.getFileLinkStatus(hpath(live)).getSymlink == forkFree.makeQualified(hpath(target)))
  }

  private def fileContext(impl: Option[String]): FileContext = {
    val conf = new Configuration()
    impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  /** Create `p` through `fc` (so it gets its `.crc` sidecar) holding `s`. */
  private def put(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def get(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** OVERWRITE replaces, NONE refuses an existing destination; returns the
    * directory listing after each step, `.crc` sidecars included.
    */
  private def renames(fc: FileContext): Seq[Seq[String]] = {
    val dir = tmp("localfs-rename")
    def ls = Files.list(dir).toArray.map(_.asInstanceOf[NioPath].getFileName.toString).toSeq.sorted
    val (src, dst) = (hpath(dir.resolve("src")), hpath(dir.resolve("dst")))
    put(fc, dst, "old")
    put(fc, src, "new")
    val before = ls
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(get(fc, dst) == "new")
    val afterOverwrite = ls
    put(fc, src, "newer")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(get(fc, dst) == "new" && get(fc, src) == "newer")
    Seq(before, afterOverwrite, ls)
  }

  test("FileContext.rename: OVERWRITE replaces and NONE refuses, as on stock LocalFs") {
    val forkFreeFc = fileContext(Some(classOf[ForkFreeLocalFs].getName))
    assert(forkFreeFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val stockSteps = renames(fileContext(None))
    assert(renames(forkFreeFc) == stockSteps)
    assert(stockSteps(1) == Seq(".dst.crc", "dst"), "the .crc sidecar follows the rename")
  }
}
