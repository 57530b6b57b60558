package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.runtime.{Client, EventTransport}
import graft.runtime.local.LocalRuntime

/** Scenario gate S1-S6 (FIXTURES.md A.4), shared across runtimes.
  * Every expected value is the reference's own E2E assert
  * (/root/reference/tests/stateflow_test.py:74-269).
  */
trait EntityScenarios extends AnyFunSuite {

  /** Provide a fresh transport (isolated state) per test. */
  def freshTransport(): EventTransport

  protected def fresh(): (EventTransport, Client) = {
    val rt = freshTransport()
    (rt, new Client(TestEntities.registry, rt))
  }

  test("S1: create, duplicate create fails, find hits and misses") {
    val (_, c) = fresh()
    val u = c.create("User", Map("username" -> "u1"))
    assert(u === Right(EntityRef("User", "u1")))
    val dup = c.create("User", Map("username" -> "u1"))
    assert(dup.isLeft) // FailedInvocation on duplicate key
    assert(c.find(EntityRef("User", "u1")))
    assert(!c.find(EntityRef("User", "nope")))
  }

  test("S2: attribute get/set") {
    val (_, c) = fresh()
    val Right(u) = c.create("User", Map("username" -> "u1"))
    assert(c.getAttr(u, "balance") === 0)
    c.setAttr(u, "balance", 5)
    assert(c.getAttr(u, "balance") === 5)
  }

  test("S3: non-split invoke") {
    val (_, c) = fresh()
    val Right(u) = c.create("User", Map("username" -> "u1"))
    val Right(it) = c.create("Item", Map("item_name" -> "i1", "price" -> 5))
    c.call(u, "update_balance", Map("x" -> 20))
    c.call(it, "update_stock", Map("amount" -> 4))
    assert(c.getAttr(u, "balance") === 20)
    assert(c.getAttr(it, "stock") === 4)
  }

  test("S4: buy_item two-entity split flow (stateflow_test.py:184-201)") {
    val (_, c) = fresh()
    val Right(u) = c.create("User", Map("username" -> "u1"))
    val Right(it) = c.create("Item", Map("item_name" -> "i1", "price" -> 5))
    c.call(u, "update_balance", Map("x" -> 20))
    c.call(it, "update_stock", Map("amount" -> 4))
    val buy = c.call(u, "buy_item", Map("amount" -> 3, "item" -> it))
    assert(buy === true)
    assert(c.getAttr(u, "balance") === 5)
    assert(c.getAttr(it, "stock") === 1)
    // insufficient balance -> false, state untouched
    val buy2 = c.call(u, "buy_item", Map("amount" -> 3, "item" -> it))
    assert(buy2 === false)
    assert(c.getAttr(u, "balance") === 5)
    assert(c.getAttr(it, "stock") === 1)
    // insufficient stock -> false (balance 5 >= total 5, stock 1-1 ok...)
    c.call(u, "update_balance", Map("x" -> 100))
    val buy3 = c.call(u, "buy_item", Map("amount" -> 3, "item" -> it))
    assert(buy3 === false) // stock 1 - 3 < 0
    assert(c.getAttr(it, "stock") === 1)
  }

  test("S4b: complex_method multi-split (stateflow_test.py:78-90)") {
    val (_, c) = fresh()
    val Right(b) = c.create("ExperimentalB", Map("name" -> "b"))
    val Right(a) = c.create("ExperimentalA", Map("name" -> "a"))
    val outcome = c.call(a, "complex_method", Map("balance" -> 10, "other" -> b))
    assert(outcome === true)
    assert(c.getAttr(b, "balance") === 10)
    assert(c.getAttr(a, "balance") === 0)
    c.call(a, "work_with_list", Map("x" -> 1, "others" -> Seq(b)))
    assert(c.getAttr(b, "balance") === 30)
    c.call(a, "work_with_list", Map("x" -> 0, "others" -> Seq(b)))
    assert(c.getAttr(b, "balance") === 30)
  }

  test("S5: conditional flows (stateflow_test.py:105-161)") {
    val (_, c) = fresh()
    val Right(b) = c.create("ExperimentalB", Map("name" -> "b"))
    val Right(a) = c.create("ExperimentalA", Map("name" -> "a"))

    assert(c.call(a, "complex_if", Map("balance" -> 11, "b_ins" -> b)) === 0)
    assert(c.getAttr(b, "balance") === 11)

    c.setAttr(b, "balance", 5)
    assert(c.call(a, "complex_if", Map("balance" -> 9, "b_ins" -> b)) === 1)
    assert(c.getAttr(b, "balance") === 5)

    c.setAttr(b, "balance", 0)
    assert(c.call(a, "complex_if", Map("balance" -> 9, "b_ins" -> b)) === 2)
    assert(c.getAttr(b, "balance") === 0)

    c.setAttr(b, "balance", 0)
    assert(c.call(a, "more_complex_if", Map("balance" -> -3, "b_ins" -> b)) === -3)

    c.setAttr(b, "balance", 4)
    assert(c.call(a, "more_complex_if", Map("balance" -> 2, "b_ins" -> b)) === 1)

    c.setAttr(b, "balance", 4)
    assert(c.call(a, "more_complex_if", Map("balance" -> 3, "b_ins" -> b)) === -1)
    assert(c.getAttr(b, "balance") === 4)

    c.setAttr(b, "balance", 0)
    c.setAttr(a, "balance", 0)
    assert(c.call(a, "test_no_return", Map("balance" -> 6, "b_ins" -> b)) === null)
    assert(c.getAttr(b, "balance") === 6)
    assert(c.getAttr(a, "balance") === 0)
  }

  test("S6: for-loops (stateflow_test.py:210-234)") {
    val (_, c) = fresh()
    val Right(b) = c.create("ExperimentalB", Map("name" -> "b"))
    val Right(b2) = c.create("ExperimentalB", Map("name" -> "b2"))
    val Right(a) = c.create("ExperimentalA", Map("name" -> "a"))

    assert(c.call(a, "for_loops", Map("x" -> 0, "others" -> Seq(b, b2))) === -1)
    assert(c.getAttr(b, "balance") === 5)
    assert(c.getAttr(b2, "balance") === 5)

    assert(c.call(a, "for_loops", Map("x" -> 4, "others" -> Seq(b, b2))) === 4)
    assert(c.getAttr(b, "balance") === 10)
    assert(c.getAttr(b2, "balance") === 10)
  }

  test("S6b: simple_for_loops over users returns i==4 (stateflow_test.py:192)") {
    val (_, c) = fresh()
    val users = (1 to 4).map(i => c.create("User", Map("username" -> s"u$i")).toOption.get)
    val u1 = users.head
    assert(c.call(u1, "simple_for_loops", Map("users" -> users)) === 4)
    // first user got +4, rest +9
    assert(c.getAttr(u1, "balance") === 4)
    users.tail.foreach(u => assert(c.getAttr(u, "balance") === 9))
  }

  test("S6c: state_requests snapshot invalidation == 26 (stateflow_test.py:236-250)") {
    val (_, c) = fresh()
    val Right(b) = c.create("ExperimentalB", Map("name" -> "b"))
    val Right(b2) = c.create("ExperimentalB", Map("name" -> "b2"))
    val Right(a) = c.create("ExperimentalA", Map("name" -> "a"))
    assert(c.call(a, "state_requests", Map("items" -> Seq(b, b2))) === 26)
  }

  test("S6d: nested split calls (stateflow_test.py:252-269)") {
    val (_, c) = fresh()
    val Right(no) = c.create("OtherNestClass", Map("id" -> "o1", "x" -> 11))
    val Right(n) = c.create("NestClass", Map("id" -> "n1", "x" -> 3))
    assert(c.call(n, "nest_call", Map("other" -> no)) === Seq(11, 3, 3))
    assert(c.call(no, "nest_calll", Map("other" -> no)) === true)
  }

  test("S11: pipelined async client — create/call/get futures (class_ref.py:228-258)") {
    val (_, c) = fresh()
    val u = c.createAsync("User", Map("username" -> "async_u"))
      .result().asInstanceOf[EntityRef]
    assert(u === EntityRef("User", "async_u"))
    // fire two updates and the read BEFORE any pump: same-key batching
    // (O14) preserves arrival order, so the read observes both
    val f1 = c.callAsync(u, "update_balance", Map("x" -> 7))
    val f2 = c.callAsync(u, "update_balance", Map("x" -> 5))
    val g = c.getAttrAsync(u, "balance")
    assert(g.result() === 12)
    assert(f1.isCompleted && f2.isCompleted,
      "pumping one future completes the pipelined batch")
    assert(c.findAsync(u).result() === true)
    assert(c.findAsync(EntityRef("User", "async_nope")).result() === false)
    // failure completion: duplicate create surfaces as the thrown
    // StateflowFailure analog
    intercept[RuntimeException](
      c.createAsync("User", Map("username" -> "async_u")).result())
  }

  test("YCSB transfer flow: guarded two-key transfer") {
    val (_, c) = fresh()
    val Right(e1) = c.create("YCSBEntity", Map("key" -> "k1", "value" -> 100))
    val Right(e2) = c.create("YCSBEntity", Map("key" -> "k2", "value" -> 100))
    assert(c.call(e1, "transfer", Map("transfer_amount" -> 30, "other_entity" -> e2)) === true)
    assert(c.getAttr(e1, "value") === 70)
    assert(c.getAttr(e2, "value") === 130)
    assert(c.call(e1, "transfer", Map("transfer_amount" -> 1000, "other_entity" -> e2)) === false)
    assert(c.getAttr(e1, "value") === 70)
  }

}

/** S1-S6 on the synchronous in-memory oracle. */
class LocalEntitySpec extends EntityScenarios {
  override def freshTransport() = new LocalRuntime(TestEntities.registry)

  test("read-only methods do not write state") {
    val rt = new LocalRuntime(TestEntities.registry)
    val c = new Client(TestEntities.registry, rt)
    val Right(b) = c.create("ExperimentalB", Map("name" -> "b"))
    c.setAttr(b, "balance", 7)
    val before = rt.store(("ExperimentalB", "b"))
    assert(c.call(b, "balance_equal_to", Map("equal_balance" -> 7)) === true)
    assert(rt.store(("ExperimentalB", "b")) eq before) // same instance: no write
  }

  test("concurrent send and sync Client calls on one entity lose no update") {
    val rt = new LocalRuntime(TestEntities.registry)
    val c = new Client(TestEntities.registry, rt)
    val Right(u) = c.create("User", Map("username" -> "shared"))
    val (threads, perThread) = (8, 500)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            (0 until perThread).foreach { i =>
              // half the threads send the request event themselves, half
              // share the sync Client
              if (t % 2 == 0) rt.send(Event(s"t$t-$i", "User", u.key, EventType.InvokeStateful,
                Payload.MethodCall("update_balance", Map("x" -> 1))))
              else c.call(u, "update_balance", Map("x" -> 1))
            }
          }
        })
      }
      start.countDown()
      done.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(c.getAttr(u, "balance") === threads * perThread)
  }
}
