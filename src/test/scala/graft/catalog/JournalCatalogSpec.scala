package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.labels.LabelSet

class JournalCatalogSpec extends AnyFunSuite {

  private def cat(): JournalCatalog = {
    val c = new JournalCatalog
    assert(c.upsert(JournalSpec("topic/events/part-0",
      LabelSet("content-type", "application/x-ndjson", "env", "prod"))).isRight)
    assert(c.upsert(JournalSpec("topic/events/part-1",
      LabelSet("content-type", "application/x-ndjson", "env", "prod"))).isRight)
    assert(c.upsert(JournalSpec("topic/clicks/part-0",
      LabelSet("content-type", "text/csv", "env", "qa"))).isRight)
    c
  }

  test("upsert validates names and labels") {
    val c = new JournalCatalog
    assert(c.upsert(JournalSpec("ab")).isLeft) // too short
    assert(c.upsert(JournalSpec("/leading/slash")).isLeft)
    assert(c.upsert(JournalSpec("ok/journal")).isRight)
    assert(c.upsert(JournalSpec("bad/label",
      LabelSet("x", "v"))).isLeft) // label name too short
    // Reject at upsert what the append path rejects at write time: a
    // 0 fragment target passed the old validator only to throw the
    // spool pass's maxFragmentBytes require on the first append.
    assert(c.upsert(JournalSpec("bad/fragsize",
      fragmentTargetLength = 0L)).isLeft)
    assert(c.upsert(JournalSpec("bad/replication",
      replication = 0)).isLeft)
  }

  test("revision CAS semantics") {
    val c = new JournalCatalog
    val Right(r1) = c.upsert(JournalSpec("cas/journal")): @unchecked
    assert(c.upsert(JournalSpec("cas/journal"), expectRevision = r1 + 5).isLeft)
    val Right(r2) = c.upsert(JournalSpec("cas/journal", replication = 3),
      expectRevision = r1): @unchecked
    assert(r2 > r1)
    assert(c.get("cas/journal").get.replication == 3)
    assert(c.upsert(JournalSpec("cas/journal"), expectRevision = 0).isLeft) // exists
    assert(c.delete("cas/journal", expectRevision = r1).isLeft)
    assert(c.delete("cas/journal", expectRevision = r2).isRight)
    assert(c.get("cas/journal").isEmpty)
  }

  test("selector listing with labels and name/prefix meta-labels") {
    val c = cat()
    assert(c.list("env = prod").map(_.name) ==
      Vector("topic/events/part-0", "topic/events/part-1"))
    assert(c.list("prefix = topic/events/").size == 2)
    assert(c.list("name = topic/clicks/part-0").size == 1)
    assert(c.list("content-type = application/x-ndjson, env != qa").size == 2)
    assert(c.list("env in (prod, qa)").size == 3)
    assert(c.list().size == 3)
  }
}
