package perfbench

import graft.core.InMemoryCheckpointStore

class CheckSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val stream = Gen.backlog(2, 8, 100, 1)
  private val exp = stream.expected

  /** Outputs exactly as a correct run leaves them. */
  private def correctRun(): (Map[String, Long], InMemoryCheckpointStore) = {
    Outcomes.reset()
    Outcomes.hard.add(exp.deadLetters); Outcomes.soft.add(exp.softFailures)
    val store = new InMemoryCheckpointStore
    exp.finalCheckpoints.foreach { case (s, q) => store.saveCheckpoint(s, q) }
    (exp.typeCounts, store)
  }

  test("a correct run passes the output checks") {
    val (counts, store) = correctRun()
    assert(Engine.checkOutputs(exp, counts, store, stream.shards.keys).isEmpty)
  }

  test("a deliberately wrong expectation fails the output checks") {
    val (counts, store) = correctRun()
    val problems = Engine.checkOutputs(Main.perturb(exp), counts, store, stream.shards.keys)
    assert(problems.size == 1 && problems.head.startsWith(s"items[${Gen.Types.head}]"))
  }

  test("a lost checkpoint or an extra dead letter fails the output checks") {
    val (counts, _) = correctRun()
    val partial = new InMemoryCheckpointStore
    exp.finalCheckpoints.tail.foreach { case (s, q) => partial.saveCheckpoint(s, q) }
    assert(Engine.checkOutputs(exp, counts, partial, stream.shards.keys).exists(_.startsWith("checkpoint[")))
    Outcomes.hard.increment()
    assert(Engine.checkOutputs(exp, counts, partial, stream.shards.keys).exists(_.startsWith("dead letters")))
  }
}
