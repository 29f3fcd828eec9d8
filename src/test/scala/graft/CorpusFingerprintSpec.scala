package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** [[Seams.corpusFingerprint]] keys the durable seam artifacts and the
  * dpp/bucketed fixture dirs, so two corpora may share a key only if
  * their files match. Spark writes each table as a directory of part
  * files: those must count, and a flat-file corpus must keep the
  * top-level-listing digest its existing artifact names carry. */
class CorpusFingerprintSpec extends AnyFunSuite {

  private def write(p: Path, body: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  /** A corpus with one directory table, as Spark writes it. */
  private def dirCorpus(part: String): Path = {
    val c = Files.createTempDirectory("graft-fp-dir")
    write(c.resolve("embeddings.parquet/part-00000.parquet"), part)
    write(c.resolve("embeddings.parquet/_SUCCESS"), "")
    c
  }

  /** The top-level-files-only digest every existing artifact name was
    * keyed by. */
  private def flatDigest(d: String): String = {
    val files = Option(new File(d).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(files.mkString("\n").getBytes(UTF_8))
      .take(16).map("%02x".format(_)).mkString
  }

  test("corpora whose directory tables differ get different fingerprints") {
    val a = dirCorpus("null-drift vectors")
    val b = dirCorpus("shifted-drift vectors, longer")
    assert(Seams.corpusFingerprint(a.toString) !==
      Seams.corpusFingerprint(b.toString))
  }

  test("rewriting a part file in place changes the fingerprint") {
    val c = dirCorpus("day one")
    val before = Seams.corpusFingerprint(c.toString)
    write(c.resolve("embeddings.parquet/part-00000.parquet"),
      "day two, regenerated")
    assert(Seams.corpusFingerprint(c.toString) !== before)
  }

  test("a flat-file corpus keeps its top-level-listing digest") {
    val c = Files.createTempDirectory("graft-fp-flat")
    write(c.resolve("documents.parquet"), "docs")
    write(c.resolve("events.parquet"), "events, more bytes")
    assert(Seams.corpusFingerprint(c.toString) === flatDigest(c.toString))
  }
}
