package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Golden end-to-end replay (reference test/Golden.hs): every reference
  * fixture PDF extracted in three modes and compared byte-for-byte against
  * the expected outputs. */
class GoldenSpec extends AnyFunSuite {
  private val fixDir = Paths.get(sys.env.getOrElse("GRAFT_FIXTURES", "/root/reference/data/fixtures"))

  private def fixtures: List[String] =
    if (!Files.isDirectory(fixDir)) Nil
    else {
      val s = Files.list(fixDir)
      try s.toArray.map(_.toString).filter(_.endsWith(".pdf")).sorted.toList
      finally s.close()
    }

  private def runMode(mode: String, bytes: Array[Byte]): Either[PdfError, String] = mode match {
    case "tagged" => Extract.extractPdf(bytes, None)
    case "geom" => Extract.extractPdfGeom(bytes, None)
    case "legacy" => DocStructure.openDocument(bytes, None).map(d => Legacy.legacyText(d)._1)
  }

  // 15 reference fixture PDFs, each with tagged/geom/legacy expectations
  private val referenceGoldens = 45

  // an absent fixture directory must show up in the report as a canceled
  // test, not as a suite that silently registers zero golden cases
  if (!Files.isDirectory(fixDir))
    test("reference goldens byte-exact") {
      cancel(s"$fixDir absent: $referenceGoldens reference goldens not run")
    }

  for (pdf <- fixtures) {
    val name = Paths.get(pdf).getFileName.toString.stripSuffix(".pdf")
    for ((mode, dir) <- List(("tagged", "expected"), ("geom", "expected-geom"),
                             ("legacy", "expected-legacy"))) {
      val expPath = fixDir.resolve(dir).resolve(name + ".txt")
      if (Files.exists(expPath)) {
        test(s"$name [$mode] matches golden bytes") {
          val bytes = Files.readAllBytes(Paths.get(pdf))
          val expected = new String(Files.readAllBytes(expPath), "UTF-8")
          runMode(mode, bytes) match {
            case Right(actual) => assert(actual + "\n" == expected)
            case Left(e) => fail(s"extraction error: ${e.render}")
          }
        }
      }
    }
  }

  test("synthetic corpus documents match constructed ground truth") {
    for (i <- 0L until 45L) {
      val d = graft.spark.FixtureGen.docFor(i)
      val actual = d.kind match {
        case "html" => Html.extractHtml(d.bytes)
        case "textrow" => d.expected // fallback path exercised in CorpusSpec
        case _ => Extract.extractPdf(d.bytes, None).fold(e => s"<err ${e.render}>", identity)
      }
      assert(actual == d.expected, s"kind=${d.kind} i=$i")
    }
  }
}
