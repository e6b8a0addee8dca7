package graftbench

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** Inputs are a pure function of the seed. */
class GenSpec extends AnyFunSuite {

  /** Every generated input of one seed, serialized. */
  private def inputs(seed: Long): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def vec(v: Array[Float]): Unit = v.foreach(out.writeFloat)
    (0L until 300L).foreach { id =>
      vec(Gen.corpusVec(seed, id)); out.writeInt(Gen.label(seed, id))
    }
    Gen.flatBatch(seed, 128000L, client = 1, batch = 7, size = 16).foreach { r =>
      out.writeLong(r.qid); vec(r.qvec); out.writeInt(r.k)
      out.writeUTF(r.metric); out.writeUTF(r.fop.getOrElse("-")); out.writeLong(r.fval)
    }
    Gen.annBatch(seed, 2000L, client = 0, batch = 3, size = 8, "HNSW").foreach { r =>
      out.writeLong(r.qid); vec(r.qvec); out.writeUTF(r.indexType); out.writeLong(r.ef)
    }
    Gen.wave(seed, 2, 400).foreach { d =>
      out.writeLong(d.id); out.writeUTF(d.text); out.writeLong(d.src)
      out.writeDouble(d.editRate)
    }
    out.flush()
    bytes.toByteArray
  }

  test("the same seed gives byte-identical inputs") {
    assert(java.util.Arrays.equals(inputs(7L), inputs(7L)))
  }

  test("a different seed gives different inputs") {
    assert(!java.util.Arrays.equals(inputs(7L), inputs(8L)))
    assert(!Gen.corpusVec(7L, 5L).sameElements(Gen.corpusVec(8L, 5L)))
    assert(Gen.wave(7L, 0, 50).map(_.text).toSeq != Gen.wave(8L, 0, 50).map(_.text).toSeq)
  }

  test("corpus rows are unit vectors") {
    (0L until 50L).foreach { id =>
      val v = Gen.corpusVec(3L, id)
      assert(v.length == Gen.Dim)
      assert(math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
    }
  }

  test("waves plant near-duplicates of earlier docs") {
    val ds = Gen.wave(5L, 0, 2000)
    val planted = ds.filter(d => d.src >= 0 && d.editRate == 0.0)
    assert(planted.nonEmpty)
    planted.foreach(d => assert(d.src < d.id))
  }

  test("shingles follow the operator's rule: word 3-grams, short docs whole") {
    assert(Gen.shingles("a b") == Set("a b"))
    assert(Gen.shingles("a b c d") == Set("a b c", "b c d"))
    assert(Gen.shingles("a b c a b c") == Set("a b c", "b c a", "c a b"))
  }
}
