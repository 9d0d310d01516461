package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.UploadValidation
import graft.kernel.ConvertKernel
import graft.kernel.ConvertKernel.ConversionConfig

/** The generators: determinism, seed sensitivity, and ground truth that
  * the program's own conversion and validation agree with. */
class GenSpec extends AnyFunSuite {

  private def fingerprint(docs: Seq[Gen.Doc]): Seq[(String, Seq[Byte])] =
    docs.map(d => d.name -> d.bytes.toSeq)

  test("the same seed gives byte-identical inputs") {
    assert(fingerprint(Gen.corpus(11)) == fingerprint(Gen.corpus(11)))
    val a = new Gen.Rng(5)
    val b = new Gen.Rng(5)
    assert(fingerprint((0 until 50).map(i => Gen.smallDoc(i, a.split()))) ==
      fingerprint((0 until 50).map(i => Gen.smallDoc(i, b.split()))))
    assert(Gen.textCorpus(3, 2000) == Gen.textCorpus(3, 2000))
  }

  test("a different seed gives a different corpus of the same shape") {
    val (a, b) = (Gen.corpus(11), Gen.corpus(12))
    assert(a.map(_.name) == b.map(_.name))
    assert(a.zip(b).forall { case (x, y) => !java.util.Arrays.equals(x.bytes, y.bytes) })
    assert(Gen.textCorpus(3, 2000).rows != Gen.textCorpus(4, 2000).rows)
  }

  test("every corpus document converts to its ground truth") {
    val docs = Gen.corpus(21)
    assert(docs.map(_.format).distinct.sorted == Gen.Formats.sorted)
    assert(docs.map(_.pictures.size).sum > 0)
    docs.foreach { d =>
      val r = ConvertKernel.convertOne(d.name, d.bytes, ConversionConfig(imageResolutionScale = 4))
      assert(Check.converted(d, r, 4).isEmpty, Check.converted(d, r, 4))
    }
  }

  test("small request documents convert at every scale, and a wrong answer is caught") {
    val rng = new Gen.Rng(8)
    (0 until 40).foreach { i =>
      val d = Gen.smallDoc(i, rng.split())
      val scale = 1 + i % 4
      val r = ConvertKernel.convertOne(d.name, d.bytes, ConversionConfig(imageResolutionScale = scale))
      assert(Check.converted(d, r, scale).isEmpty, Check.converted(d, r, scale))
      if (d.pictures.nonEmpty) assert(Check.converted(d, r, scale % 4 + 1).nonEmpty)
      if (d.markers.nonEmpty) assert(Check.converted(d, r.copy(markdown = ""), scale).nonEmpty)
    }
  }

  test("planted invalid uploads get the reference's status and exact text") {
    val rng = new Gen.Rng(9)
    val invs = (0 until 20).map(i => Gen.invalid(i, rng.split(), maxFileMb = 1))
    assert(invs.map(_.status).toSet == Set(400, 413))
    invs.foreach { inv =>
      val up = new UploadValidation.Upload {
        val filename: String = inv.name
        val declaredSize: Option[Long] = Some(inv.bytes.length.toLong)
        def read(n: Long): Array[Byte] = inv.bytes.take(n.toInt)
      }
      assert(UploadValidation.readAndValidateDocument(up, maxFileMb = 1) ==
        Left(UploadValidation.ValidationError(inv.status, inv.detail)))
    }
  }

  private def shingles(text: String): Set[String] =
    text.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet

  test("the documents table plants duplicates and low quality as recorded") {
    val tc = Gen.textCorpus(13, 3000)
    assert(tc.rows.size >= 3000 && tc.rows.map(_.doc_id) == tc.rows.indices.map(_.toLong))
    assert(tc.exactGroups > 0 && tc.nearGroups > 0 && tc.lowQuality > 0)
    assert(tc.rows.forall(r => r.n_chars == r.text.length))
    // every removed document is an exact copy, a near copy (word 3-gram
    // Jaccard similarity >= 0.5) of an earlier survivor, or low quality
    // (a group's copies follow its surviving first member directly)
    val survivors = tc.rows.filter(r => tc.survivors(r.doc_id))
    val survivorText = survivors.map(_.text).toSet
    tc.rows.filterNot(r => tc.survivors(r.doc_id)).foreach { r =>
      val toks = r.text.split(" ")
      val lowQuality = toks.length < 50 || toks.count(_.forall(_.isDigit)).toDouble / toks.length >= 0.2
      lazy val near = {
        val s = shingles(r.text)
        (1 to 3).map(r.doc_id - _).filter(id => id >= 0 && tc.survivors(id)).exists { id =>
          val t = shingles(tc.rows(id.toInt).text)
          (s & t).size.toDouble / (s | t).size >= 0.5
        }
      }
      assert(lowQuality || survivorText(r.text) || near, s"doc ${r.doc_id} removed without cause")
    }
    // survivors are pairwise far apart: no two share half their shingles
    val sample = survivors.take(300).map(r => shingles(r.text))
    for (i <- sample.indices; j <- i + 1 until sample.size)
      assert((sample(i) & sample(j)).size.toDouble / (sample(i) | sample(j)).size < 0.5)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String) = root.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("per_layer") == Layers.all)
    assert(listed("end_to_end").map(_._1).toSet ==
      Set("setup_s", "peak_rss_mb", "ok_share", "docs_per_s", "p50_ms", "tail_ms"))
    assert(root.get("workloads").elements.asScala.map(_.get("name").asText).toSeq == Main.Workloads)
  }
}
