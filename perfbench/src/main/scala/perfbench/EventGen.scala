package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

/** Seeded producer of the reference's Kafka message values: flat JSON with
  * an ISO-8601 `timestamp`, `user_id`, `user_name` and `event_type` (one of
  * CLICK, IMPRESSION, HOVER_MOUSE). Event `i` depends only on `(seed, i)`,
  * so a given seed always yields the same bytes.
  *
  * Every block of [[Block]] consecutive events holds exactly [[Malformed]]
  * lines that are not JSON, [[MissingField]] lines without `user_name` and
  * [[Late]] events stamped 60 to 120 s before their neighbours.
  */
final class EventGen(seed: Long, val users: Int) {
  import EventGen._

  private def rng(salt: Long, i: Long) = new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + salt, i))

  /** Event kind of index `i`: the block's poison and late slots are the
    * first positions of a seeded permutation of the block.
    */
  def kind(i: Long): Kind = {
    val r = rng(1, i / Block)
    val slots = Array.range(0, Block)
    for (k <- 0 until PoisonAndLate) { // partial Fisher-Yates
      val j = k + r.nextInt(Block - k)
      val t = slots(k); slots(k) = slots(j); slots(j) = t
    }
    val pos = slots.indexOf((i % Block).toInt)
    if (pos < 0 || pos >= PoisonAndLate) Valid
    else if (pos < Malformed) Bad
    else if (pos < Malformed + MissingField) NoName
    else LateTs
  }

  def userId(u: Int): String = {
    val r = new SplittableRandom(mix(seed, u.toLong + 0x5bd1e995L))
    new java.util.UUID(r.nextLong(), r.nextLong()).toString
  }

  def userName(u: Int): String = Names(u % Names.length)

  def line(i: Long): String = {
    val r = rng(2, i)
    val u = r.nextInt(users)
    val kindOfI = kind(i)
    val lateBy = if (kindOfI == LateTs) 60000000L + r.nextLong(60000000L) else 0L
    val ts = Iso.format(java.time.LocalDateTime.ofEpochSecond(
      0, 0, java.time.ZoneOffset.UTC).plusNanos((BaseMicros + i * 1000L - lateBy) * 1000L))
    val et = EventTypes(r.nextInt(EventTypes.length))
    kindOfI match {
      case Bad => s"""{"timestamp": "$ts", "user_id": "${userId(u)}", "user_na"""
      case NoName => s"""{"timestamp": "$ts", "user_id": "${userId(u)}", "event_type": "$et"}"""
      case _ =>
        s"""{"timestamp": "$ts", "user_id": "${userId(u)}", "user_name": "${userName(u)}", "event_type": "$et"}"""
    }
  }

  /** Lines `from until to` as one newline-terminated file body. */
  def body(from: Long, to: Long): Array[Byte] = {
    val sb = new StringBuilder
    var i = from
    while (i < to) { sb.append(line(i)).append('\n'); i += 1 }
    sb.toString.getBytes(UTF_8)
  }
}

object EventGen {
  sealed trait Kind
  case object Valid extends Kind
  case object Bad extends Kind
  case object NoName extends Kind
  case object LateTs extends Kind

  val Block = 100
  val Malformed = 1
  val MissingField = 1
  val Late = 2
  private val PoisonAndLate = Malformed + MissingField + Late

  val EventTypes: Array[String] = Array("CLICK", "IMPRESSION", "HOVER_MOUSE")
  /** The reference producer's 40 fixed user names. */
  val Names: Array[String] = Array(
    "Alice", "Bob", "Charlie", "Diana", "Eve", "Frank", "Grace", "Heidi",
    "Ivan", "Judy", "Karl", "Laura", "Mallory", "Niaj", "Olivia", "Peggy",
    "Quentin", "Rupert", "Sybil", "Trent", "Uma", "Victor", "Walter", "Xena",
    "Yusuf", "Zoe", "Aaron", "Bella", "Carlos", "Dora", "Elif", "Farid",
    "Gita", "Hugo", "Ines", "Jonas", "Kira", "Liam", "Mona", "Nils")

  /** 2026-01-01T00:00:00Z; event `i` is stamped `i` ms later. */
  private val BaseMicros = 1767225600L * 1000000L
  private val Iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def mix(a: Long, b: Long): Long = {
    var z = a ^ (b * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Write `bytes` under `staging`, then rename into `dir` so the stream
    * source never lists a half-written file.
    */
  def publish(staging: Path, dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One live file as the writer thread published it. `due` and `created`
    * are `System.nanoTime` instants; `endLine` is the cumulative line count
    * of the live phase through this file.
    */
  final case class LiveFile(due: Long, created: Long, endLine: Long)
}

/** The open-loop generator: one thread writing `nFiles` files of
  * `perFile` events, file `k` due at `origin + k * periodNanos`. The
  * schedule never slips: a late file does not delay the next one's due time.
  */
final class LiveWriter(
    gen: EventGen, firstEvent: Long, perFile: Int, periodNanos: Long, nFiles: Int,
    staging: Path, dir: Path, prefix: String) extends Thread(s"perfbench-gen-$prefix") {
  setDaemon(true)
  @volatile private var files: Vector[EventGen.LiveFile] = Vector.empty
  @volatile private var failure: Option[Throwable] = None
  val origin: Long = System.nanoTime() + 50000000L // first file due 50 ms after construction

  override def run(): Unit =
    try {
      for (k <- 0 until nFiles) {
        val due = origin + k * periodNanos
        var wait = due - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        val from = firstEvent + k.toLong * perFile
        EventGen.publish(staging, dir, f"$prefix-$k%06d.jsonl", gen.body(from, from + perFile))
        files :+= EventGen.LiveFile(due, System.nanoTime(), (k + 1).toLong * perFile)
      }
    } catch { case t: Throwable => failure = Some(t) }

  def result(): Vector[EventGen.LiveFile] = {
    join()
    failure.foreach(t => throw t)
    files
  }
}
