package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.v2.{DirSink, GraftCatalog}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** A zone IS its commit log. A directory holding a bare `_GRAFT_COMMIT`
  * and no `_graft_log/` is no zone this build reads or writes: read,
  * append, catalog load and vacuum each refuse it with the same error
  * naming the file, and none of them touches the directory — not its
  * data file, not its manifest, not the orphan a vacuum would sweep. */
class BareManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  /** `<warehouse>/db/t` holding one real two-row parquet file, a bare
    * manifest listing it (with the `#format=parquet` header a logged
    * zone carries), and an unreferenced orphan file. */
  private def bareZone(): (String, String) = {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_bare_src").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", src).mode(SaveMode.Append).save()
    val name = DirSink.readManifest(src).get._2.head._1
    val wh = Files.createTempDirectory("graft_bare_wh").toString
    val dir = Paths.get(wh, "db", "t")
    Files.createDirectories(dir)
    Files.copy(Paths.get(src, name), dir.resolve(name))
    Files.write(dir.resolve(DirSink.ManifestName),
      s"id BIGINT,v STRING\n#format=parquet\n#gen=0\n$name\t2"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("orphan-file"), "x".getBytes("UTF-8"))
    (wh, dir.toString)
  }

  /** Every path under `dir`: files with their size, mtime and content
    * hash, directories by name alone. */
  private def snapshot(dir: String): Map[String, Seq[Long]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map { (p: Path) =>
      root.relativize(p).toString -> (
        if (Files.isDirectory(p)) Seq.empty[Long]
        else Seq(Files.size(p), Files.getLastModifiedTime(p).toMillis,
          java.util.Arrays.hashCode(Files.readAllBytes(p)).toLong))
    }.toMap
    finally walk.close()
  }

  /** `op` fails with the bare-manifest refusal (anywhere in its cause
    * chain) and leaves `dir` exactly as it was. */
  private def refusedUntouched(dir: String)(op: => Any): Unit = {
    val before = snapshot(dir)
    val e = intercept[Throwable](op)
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains(DirSink.ManifestName) &&
      c.getMessage.contains("_graft_log")),
      s"expected the bare-manifest refusal, got: $e")
    assert(snapshot(dir) == before, "a refused directory must be untouched")
  }

  test("a bare-manifest directory is refused by a read, untouched") {
    val (_, dir) = bareZone()
    refusedUntouched(dir) {
      spark.read.format(fmt).option("path", dir).load().count()
    }
    refusedUntouched(dir)(DirSink.zoneFormat(dir))
  }

  test("a bare-manifest directory is refused by an append, untouched") {
    import spark.implicits._
    val (_, dir) = bareZone()
    refusedUntouched(dir) {
      Seq((3L, "c")).toDF("id", "v").coalesce(1).write.format(fmt)
        .option("path", dir).mode(SaveMode.Append).save()
    }
  }

  test("a bare-manifest directory is refused by catalog loadTable, untouched") {
    val (wh, dir) = bareZone()
    val cat = new GraftCatalog
    cat.initialize("bare", new CaseInsensitiveStringMap(
      Map("warehouse" -> wh).asJava))
    val id = Identifier.of(Array("db"), "t")
    refusedUntouched(dir)(cat.loadTable(id))
    refusedUntouched(dir)(cat.loadTable(id, "0"))
    refusedUntouched(dir)(cat.loadTable(id, System.currentTimeMillis() * 1000L))
    // the directory stays occupied: CREATE never starts a log beside it
    refusedUntouched(dir) {
      cat.createTable(id, StructType.fromDDL("id BIGINT, v STRING"),
        Array.empty, new java.util.HashMap[String, String]())
    }
  }

  test("a bare-manifest directory is refused by vacuum, untouched") {
    val (_, dir) = bareZone()
    refusedUntouched(dir)(DirSink.vacuum(dir, olderThanMs = 0L))
    refusedUntouched(dir)(DirSink.vacuum(dir, olderThanMs = 0L,
      dryRun = true))
  }

  test("a bare-manifest directory stays occupied: CLONE never writes beside it") {
    import spark.implicits._
    val (_, dir) = bareZone()
    val src = Files.createTempDirectory("graft_bare_clone").toString
    Seq((9L, "z")).toDF("id", "v").write.format(fmt)
      .option("path", src).mode(SaveMode.Append).save()
    val before = snapshot(dir)
    val e = intercept[IllegalStateException](DirSink.cloneZone(src, dir))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(snapshot(dir) == before)
  }
}
