package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.connector.catalog.Identifier

/** The ledger CAS primitive in isolation — the property the whole
  * cross-process OCC protocol stands on: for one (table, sequence),
  * EXACTLY ONE concurrent `casWrite` wins, losers report false, and
  * the surviving document is byte-exactly the winner's. The original
  * implementation used `Files.move(ATOMIC_MOVE)`, which on POSIX is a
  * plain rename() that silently REPLACES an existing target — every
  * racer "won" and the first commit was overwritten; this spec pins
  * the put-if-absent contract directly so a future "simplification"
  * back to rename fails here in milliseconds, not in the forked-JVM
  * gauntlet.
  */
class LedgerCasSpec extends AnyFunSuite {
  private val ledger = graft.sources.GraftLedger
  private def ident(n: String) = Identifier.of(Array("cas"), n)

  /** A minimal table document whose `props.v` tags its writer: a
    * CHECKPOINT, or a DELTA (which needs a checkpoint below it).
    */
  private def doc(tag: String, delta: Boolean = false): String =
    s"""{"namespace":["cas"],"name":"t","schema":"{\\"type\\":\\"struct\\",\\"fields\\":[]}",""" +
      s""""dir":"/nowhere","partitionCols":[],"segments":[],"constraints":[],""" +
      s""""props":{"v":"$tag"},""" +
      (if (delta) """"delta":true,"added":[],"expired":[]}""" else """"history":[]}""")

  /** The resolved top state as (writer tag, sequence). */
  private def latest(dir: java.nio.file.Path, id: Identifier): (String, Long) = {
    val st = ledger.readTableState(dir, id, System.nanoTime()).get
    (st.state.get._2.props("v"), st.seq)
  }

  test("N threads racing one sequence: exactly one casWrite wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cas_")
    val id = ident("t")
    for (seq <- 0L to 4L) {
      val threads = 8
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val fs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            barrier.await()
            if (ledger.casWrite(dir, id, doc(s"w$t-s$seq"), seq))
              wins.incrementAndGet(): Unit
          }
        })
      }
      fs.foreach(_.get())
      pool.shutdown()
      assert(wins.get() == 1, s"seq $seq: ${wins.get()} writers believed they won")
      // The surviving doc is exactly ONE writer's complete payload —
      // never torn, never a mix.
      val (tag, s) = latest(dir, id)
      assert(s == seq)
      assert(tag.matches(s"w\\d-s$seq"), tag)
    }
    // Sequences advanced 0..4: GC kept a trailing window, latest reads 4.
    assert(ledger.latestSeq(dir, id) == 4L)
  }

  test("casWrite on an already-committed sequence loses without touching the doc") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cas2_")
    val id = ident("u")
    assert(ledger.casWrite(dir, id, doc("first"), 0L))
    assert(!ledger.casWrite(dir, id, doc("second"), 0L),
      "second CAS of the same sequence must lose")
    assert(latest(dir, id) == ("first", 0L),
      "the loser must not overwrite the winner's document")
  }

  test("prefix-torn documents never validate: readers step down to the seal below") {
    // casWrite SEALS documents (trailing #graft-seal:<len>:<crc32>); a
    // crashed O_EXCL-fallback writer leaves a PREFIX of the sealed doc.
    // No prefix can carry a trailer matching the bytes before it, so
    // every torn shape must be rejected in favor of the doc below —
    // including the nasty ones: a prefix that PARSES as valid JSON, and
    // the whole body without its trailer.
    val dir = java.nio.file.Files.createTempDirectory("graft_seal_")
    val id = ident("s")
    assert(ledger.casWrite(dir, id, doc("good"), 0L))
    val d = dir.resolve(ledger.fileNameOf(id) + ".d")
    def plant(seq: Long, raw: String): Unit =
      java.nio.file.Files.writeString(d.resolve(f"$seq%020d.json"), raw): Unit
    // Reconstruct what seq 1's sealed bytes would be, then tear them.
    assert(ledger.casWrite(dir, id, doc("later"), 1L))
    val sealed1 = java.nio.file.Files.readString(d.resolve(f"${1L}%020d.json"))
    java.nio.file.Files.delete(d.resolve(f"${1L}%020d.json"))
    for ((torn, what) <- Seq(
      (sealed1.substring(0, sealed1.indexOf("props")), "mid-JSON tear"),
      (sealed1.substring(0, sealed1.indexOf("#graft-seal")), "tear before the trailer"),
      (sealed1.dropRight(4), "tear inside the trailer"),
      ("""{"v":"later"} {"half""", "complete small JSON value + trailing garbage"),
    )) {
      plant(1L, torn)
      assert(latest(dir, id) == ("good", 0L), what)
      java.nio.file.Files.delete(d.resolve(f"${1L}%020d.json"))
    }
    // Torn docs never block progress: the sequence is reclaimable/CAS-able
    // state, and a real re-commit of seq 1 reads back exactly.
    assert(ledger.casWrite(dir, id, doc("retry"), 1L))
    assert(latest(dir, id) == ("retry", 1L))
  }

  test("an unsealed document is torn: stepped over on top, refused below a commit") {
    // The seal is the commit mark: a complete, parseable document
    // without it is what a crash between body and trailer leaves.
    val dir = java.nio.file.Files.createTempDirectory("graft_seal_unsealed_")
    val id = ident("l")
    val d = dir.resolve(ledger.fileNameOf(id) + ".d")
    assert(ledger.casWrite(dir, id, doc("sealed"), 0L))
    java.nio.file.Files.writeString(d.resolve(f"${1L}%020d.json"), doc("unsealed"))
    assert(latest(dir, id) == ("sealed", 0L), "an unsealed top document was served")
    // A committed delta above it: the unsealed doc now sits inside the
    // replay chain, and resolving through it would be corruption.
    assert(ledger.casWrite(dir, id, doc("delta", delta = true), 2L))
    val e = intercept[java.io.IOException](latest(dir, id))
    assert(e.getMessage.contains("BELOW committed documents"), e.getMessage)
  }

  test("old numbered documents are GC'd but a trailing window survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cas3_")
    val id = ident("w")
    for (seq <- 0L to 9L) assert(ledger.casWrite(dir, id, doc(s"s$seq"), seq))
    val d = dir.resolve(ledger.fileNameOf(id) + ".d")
    val s = java.nio.file.Files.list(d)
    val n = try s.count() finally s.close()
    assert(n >= 2 && n <= 4, s"expected a small trailing doc window, found $n files")
    assert(latest(dir, id) == ("s9", 9L))
  }
}
