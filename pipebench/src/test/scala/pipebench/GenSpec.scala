package pipebench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.PdfExtractor

/** The generators are the benchmark's inputs: one seed must always give
  * the same bytes, and the planted shares must hold. */
class GenSpec extends AnyFunSuite {

  /** A fresh directory under the build's scratch area. */
  private def tempDir(): File = {
    val base = new File(sys.props.getOrElse("pipebench.scratch", "target/test-scratch"))
    base.mkdirs()
    Files.createTempDirectory(base.toPath, "gen").toFile
  }

  /** SHA-256 over every file's relative path and bytes, in path order. */
  private def treeDigest(root: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(walk) else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString -> f).sortBy(_._1).foreach { case (rel, f) =>
      md.update(rel.getBytes("UTF-8")); md.update(Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test("refine corpus: the same seed gives byte-identical files and manifest") {
    val (a, b, c) = (tempDir(), tempDir(), tempDir())
    val ma = Gen.refineCorpus(a, 42L, Gen.RefineSpec)
    val mb = Gen.refineCorpus(b, 42L, Gen.RefineSpec)
    Gen.refineCorpus(c, 43L, Gen.RefineSpec)
    assert(ma == mb)
    assert(treeDigest(a) == treeDigest(b))
    assert(treeDigest(a) != treeDigest(c))
  }

  test("refine corpus: planted duplicate, PII and corrupt shares") {
    val m = Gen.refineCorpus(tempDir(), 7L, Gen.RefineSpec)
    def share(p: Gen.Member => Boolean) = m.count(p).toDouble / m.size
    assert(math.abs(share(_.kind == "duplicate") - 0.10) < 0.03)
    assert(math.abs(share(_.kind == "corrupt") - 0.02) < 0.01)
    assert(math.abs(share(x => x.kind == "unique" && x.emails + x.phones > 0) - 0.05) < 0.03)
    m.filter(_.kind == "duplicate").foreach(d => assert(m.exists(u => u.id == d.dupOf && u.kind == "unique")))
  }

  test("PDF members carry enough text that the OCR fallback is never taken") {
    val dir = tempDir()
    val pdfs = Gen.refineCorpus(dir, 3L, Gen.RefineSpec).filter(_.ext == "pdf")
    assert(pdfs.nonEmpty)
    pdfs.foreach { p =>
      val bytes = Files.readAllBytes(new File(dir, p.path).toPath)
      val text = PdfExtractor.decodePdfText(bytes).mkString("\n").trim
      assert(text.length >= PdfExtractor.OcrThreshold, p.path)
      var ocrTaken = false
      assert(PdfExtractor.extractWithOcrFallback(bytes, _ => { ocrTaken = true; "" }) == text)
      assert(!ocrTaken, p.path)
    }
  }

  test("long documents and query texts are seed-determined") {
    assert(Gen.longDocs(5L, 20) == Gen.longDocs(5L, 20))
    assert(Gen.longDocs(5L, 20) != Gen.longDocs(6L, 20))
    assert(Gen.queryTexts(5L, 50) == Gen.queryTexts(5L, 50))
    val docs = Gen.longDocs(5L, 200)
    assert(docs.map(_._2.length).sum / docs.size >= 2000) // multi-KB on average
    assert(docs.forall(_._2.contains("\n\n")))           // paragraph-structured
  }
}
