package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

class EventGenSpec extends AnyFunSuite {

  test("a seed always yields the same bytes, another seed other bytes") {
    val a = new EventGen(7, 40).body(0, 5000)
    assert(java.util.Arrays.equals(a, new EventGen(7, 40).body(0, 5000)))
    assert(!java.util.Arrays.equals(a, new EventGen(8, 40).body(0, 5000)))
    // event i depends only on (seed, i): a file cut anywhere has the same lines
    val g = new EventGen(7, 40)
    assert(new String(a, UTF_8) == new String(g.body(0, 1234), UTF_8) + new String(g.body(1234, 5000), UTF_8))
  }

  test("poison and late shares are exact in every block") {
    val g = new EventGen(3, 1000000)
    for (block <- 0L until 20L) {
      val kinds = (block * EventGen.Block until (block + 1) * EventGen.Block).map(g.kind)
      assert(kinds.count(_ == EventGen.Bad) == EventGen.Malformed)
      assert(kinds.count(_ == EventGen.NoName) == EventGen.MissingField)
      assert(kinds.count(_ == EventGen.LateTs) == EventGen.Late)
    }
  }

  test("lines have the kind the generator assigns") {
    val g = new EventGen(5, 40)
    for (i <- 0L until 500L) {
      val ln = g.line(i)
      g.kind(i) match {
        case EventGen.Bad => assert(!ln.endsWith("}"))
        case EventGen.NoName => assert(ln.endsWith("}") && !ln.contains("user_name"))
        case _ => assert(ln.contains("\"user_name\": ") && ln.contains("\"event_type\": "))
      }
    }
    val users = (0L until 2000L).map(i => g.line(i)).filter(_.contains("user_name"))
      .map(_.split("\"user_id\": \"")(1).take(36)).toSet
    assert(users.size == 40)
  }
}
