package graft

import graft.tables.{DataFile, FileMemo}
import org.scalatest.funsuite.AnyFunSuite

/** The per-file memo over a table listing, without Spark: a call
  * computes only the listed files its key's entry does not hold, and
  * the entry then holds exactly that listing.
  */
class FileMemoSpec extends AnyFunSuite {

  private val a = DataFile("file:/t/a.parquet", 10L, 100L)
  private val b = DataFile("file:/t/b.parquet", 20L, 200L)
  private val c = DataFile("file:/t/c.parquet", 30L, 300L)

  /** A memo whose values are the files' lengths, and the batches it computed. */
  private final class Counted(cap: Int) {
    val batches = scala.collection.mutable.Buffer.empty[Seq[DataFile]]
    private val m = new FileMemo[String, Long](cap)
    def apply(key: String, files: Seq[DataFile], basis: Int = 0): Map[DataFile, Long] =
      m(key, files, basis) { missing => batches += missing; missing.map(f => f -> f.length).toMap }
  }

  private def memo(cap: Int = 4) = { val c = new Counted(cap); (c, c.batches) }

  test("after one appended file, compute receives only that file") {
    val (call, batches) = memo()
    assert(call("t", Seq(a, b)) == Map(a -> 10L, b -> 20L))
    assert(call("t", Seq(a, b, c)) == Map(a -> 10L, b -> 20L, c -> 30L))
    assert(batches == Seq(Seq(a, b), Seq(c)))
    call("t", Seq(a, b, c))
    assert(batches.size == 2, "an unchanged listing computes nothing")
  }

  test("a file dropped from the listing leaves the entry") {
    val (call, batches) = memo()
    call("t", Seq(a, b))
    assert(call("t", Seq(a)) == Map(a -> 10L))
    call("t", Seq(a, b))
    assert(batches == Seq(Seq(a, b), Seq(b)))
  }

  test("a changed length or mtime recomputes only that file") {
    val (call, batches) = memo()
    call("t", Seq(a, b, c))
    val longer = b.copy(length = 21L)
    val touched = c.copy(mtime = 301L)
    assert(call("t", Seq(a, longer, c)) == Map(a -> 10L, longer -> 21L, c -> 30L))
    call("t", Seq(a, longer, touched))
    assert(batches == Seq(Seq(a, b, c), Seq(longer), Seq(touched)))
  }

  test("the least recently used key is evicted past the cap") {
    val (call, batches) = memo(cap = 2)
    call("x", Seq(a))
    call("y", Seq(b))
    call("x", Seq(a)) // x is now more recently used than y
    call("z", Seq(c)) // evicts y
    assert(batches == Seq(Seq(a), Seq(b), Seq(c)))
    call("x", Seq(a))
    call("y", Seq(b))
    assert(batches == Seq(Seq(a), Seq(b), Seq(c), Seq(b)))
  }

  test("another basis recomputes the listing and keeps one entry per key") {
    val (call, batches) = memo(cap = 2)
    call("x", Seq(a, b), 1)
    call("y", Seq(c), 1)
    call("x", Seq(a, b), 2)
    call("x", Seq(a), 3)
    assert(batches == Seq(Seq(a, b), Seq(c), Seq(a, b), Seq(a)))
    call("y", Seq(c), 1)
    call("x", Seq(a), 3)
    assert(batches.size == 4, "a moved basis replaces its key's entry and evicts no other key")
  }
}
