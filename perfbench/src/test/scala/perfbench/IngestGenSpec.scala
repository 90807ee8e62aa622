package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.FitsHeader
import graft.sources.KeywordContract

class IngestGenSpec extends AnyFunSuite {
  import IngestGen._

  private def flat(b: Batch) =
    (b.files.map(f => (f.rel, f.bytes.toSeq, f.mtimeMs)), b.expect)

  test("the same seed gives the same bytes, names, times and expectations") {
    (0 to 2).foreach { i => assert(flat(batch(7L, i)) == flat(batch(7L, i))) }
    assert(flat(batch(7L, 1)) != flat(batch(8L, 1)))
  }

  test("every reject class appears, once per batch, with a recorded reason") {
    (0 to 3).foreach { i =>
      val b = batch(11L, i)
      assert(b.expect.size == NotifiesPerBatch)
      assert(b.expect.map(_.notifyRel).distinct.size == NotifiesPerBatch)
      val reasons = b.expect.flatMap(_.reason)
      assert(reasons.size == rejectClasses(i).size)
      Seq(Md5Mismatch, SizeMismatch, UnknownType, NoPayload).foreach { r =>
        assert(reasons.count(_ == r) == 1, s"batch $i: $r")
      }
      assert(reasons.count(_.startsWith(MissingKeyword)) == 1)
      // in-batch duplicate always; a re-delivery from batch 1 on
      assert(reasons.count(_ == Duplicate) == (if (i == 0) 1 else 2))
      assert(b.expect.exists(e => e.archived && e.name.startsWith("manifest_SN")))
      assert(b.files.exists(_.bytes.length > 1024 * 1024), "a multi-MB payload")
    }
  }

  test("a re-delivered name was archived by the previous batch") {
    val prev = batch(5L, 2).expect.filter(_.archived).map(_.name).toSet
    val again = batch(5L, 3).expect.filter(e => e.reason.contains(Duplicate) &&
      !e.notifyRel.startsWith("dup/")).map(_.name)
    assert(again.size == 1 && prev(again.head))
  }

  test("payloads are multi-HDU FITS; the reject drops exactly its keyword") {
    val b = batch(3L, 1)
    val byRel = b.files.map(f => f.rel -> f.bytes).toMap
    b.expect.foreach { e =>
      val payload = byRel.get(e.notifyRel.stripSuffix(".dbb"))
      assert(payload.isEmpty == e.reason.contains(NoPayload))
      if (e.name.endsWith(".fits.fz")) payload.foreach { bytes =>
        val hdus = FitsHeader.parseAll(bytes)
        assert(hdus.size >= 2)
        val missing = KeywordContract.requiredPrimary.filterNot(hdus.head.contains)
        e.reason match {
          case Some(r) if r.startsWith(MissingKeyword) =>
            assert(missing == Seq(r.stripPrefix(MissingKeyword)))
          case _ => assert(missing.isEmpty)
        }
        hdus.tail.foreach(h =>
          assert(KeywordContract.requiredExtension.forall(h.contains)))
      }
    }
  }
}
