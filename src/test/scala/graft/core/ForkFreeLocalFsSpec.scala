package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[ForkFreeRawLocalFileSystem]] against Hadoop's stock raw local
  * filesystem, side by side on sibling paths. The stock one forks `chmod`
  * and `readlink` here (no `libhadoop`), so it is the reference: every
  * mode must land as the same POSIX bits, and every kind of path must get
  * the same link status. Both are built directly, never through
  * `FileSystem.get`, so no instance enters Hadoop's JVM-wide cache. */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(new URI("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val forkFree = init(new ForkFreeRawLocalFileSystem)

  private def unixMode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("setPermission gives the stock POSIX bits for every mode 0000-0777") {
    val dir = Files.createTempDirectory("graft-fsmode")
    val (a, b) = (dir.resolve("stock"), dir.resolve("forkfree"))
    Files.createFile(a)
    Files.createFile(b)
    val differ = (0 to 0x1ff).map { mode =>
      val perm = new FsPermission(mode.toShort)
      stock.setPermission(new Path(a.toUri), perm)
      forkFree.setPermission(new Path(b.toUri), perm)
      (mode, unixMode(a), unixMode(b))
    }.filter { case (mode, sa, sb) => sa != mode || sb != sa }
    val firstFive = differ.take(5).map { case (m, sa, sb) =>
      f"$m%04o: stock $sa%04o, fork-free $sb%04o" }.mkString("; ")
    assert(firstFive.isEmpty, s"(${differ.size} modes differ)")
    // a sticky directory takes Hadoop's own path, with the same result
    val (da, db) = (dir.resolve("dstock"), dir.resolve("dforkfree"))
    Files.createDirectory(da)
    Files.createDirectory(db)
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    stock.setPermission(new Path(da.toUri), sticky)
    forkFree.setPermission(new Path(db.toUri), sticky)
    assert(unixMode(db) == 0x3ff && unixMode(da) == 0x3ff)
  }

  /** What a caller reads of a link status, or the exception it gets. */
  private def linkStatus(fs: RawLocalFileSystem, p: Path)
      : Either[String, (String, Boolean, Boolean, Option[String], Long, Long)] =
    try {
      val st: FileStatus = fs.getFileLinkStatus(p)
      Right((st.getPath.getName, st.isDirectory, st.isSymlink,
        if (st.isSymlink) Some(st.getSymlink.toString) else None,
        st.getLen, st.getModificationTime))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus matches stock on a file, a dir, a symlink and a dangling one") {
    val dir = Files.createTempDirectory("graft-fslink")
    val file = Files.writeString(dir.resolve("file"), "twelve bytes")
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("gone"))
    for (p <- Seq(file, sub, link, dangling);
         // qualified (file:/...), as FileContext passes it, and bare
         path <- Seq(new Path(p.toUri), new Path(p.toString))) {
      assert(linkStatus(forkFree, path) == linkStatus(stock, path), path)
    }
    // the bare symlink reads as a link on both, with its target
    assert(linkStatus(forkFree, new Path(link.toString)).exists(_._3))
    assertThrows[FileNotFoundException](
      forkFree.getFileLinkStatus(new Path(Paths.get(dir.toString, "missing").toUri)))
  }
}
