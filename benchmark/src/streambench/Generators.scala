package streambench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** StreamPro landing drop: the 100-user block of the repository's test
  * fixture (FIXTURES.md §4), tiled `k` times with user ids shifted by
  * 100 per tile. Every planted property is a function of the base index
  * `i` (1-100) alone, so the notebook's answers hold exactly at any `k`:
  *
  *   - Q1: the tiled copies of user_78 are the only users reaching 30 s
  *     in their first session (39.0 s each) → 1.00 %; 97 % have watch
  *     time;
  *   - Q2: users with i % 4 == 1 watch Comedy first and return with the
  *     highest watch values → Comedy dominates, 100 % return;
  *   - Q3: the iOS + 2.0.1 cohort (base 25/46/48/67/95) has 3 of 5 users
  *     under 5 s in the first session (60 %); every other combo has at
  *     most 2 of 5.
  *
  * The seed permutes row order and draws the fields no answer reads
  * (signup date, tier, age group, gender, video duration and patent,
  * device, network, ip, country).
  */
object StreamProGen {

  val IngestionDate = "2025-09-09"
  val Genres = Seq("Action", "Comedy", "Drama", "Documentary")
  val NoWatch = Set(5, 23, 60)
  val IosCohort = Seq(25, 46, 48, 67, 95)
  val IosLowWatch = Set(25, 46, 48)
  val Winner = 78

  /** 20 (device_os, app_version) combos; combo 0 is the planted-bad one. */
  val Combos: Seq[(String, String)] =
    ("iOS", "2.0.1") +: (for {
      os <- Seq("iOS", "Android", "Windows")
      v <- Seq("1.0.6", "1.2.0", "1.5.3", "2.1.0", "2.3.4", "2.8.6", "3.0.0")
    } yield (os, v)).take(19)

  private val nonIos = (1 to 100).filterNot(IosCohort.contains)

  private def comboOf(i: Int): Int =
    if (IosCohort.contains(i)) 0 else 1 + nonIos.indexOf(i) / 5

  /** One low-watch user per non-iOS combo (its first member, never the
    * winner), plus the no-watch users and the iOS low-watch trio. */
  private def isLowWatch(i: Int): Boolean =
    if (NoWatch.contains(i) || IosLowWatch.contains(i)) true
    else if (i == Winner || comboOf(i) == 0) false
    else nonIos.grouped(5).toSeq(comboOf(i) - 1).filterNot(_ == Winner).head == i

  /** What a generated drop holds, for the checks. */
  final case class Drop(users: Long, videos: Long, devices: Long, events: Long, bytes: Long)

  def userId(tile: Int, i: Int): String = s"user_${i + 100 * tile}"

  /** Expected `q3WorstComboUsers(iOS, 2.0.1)`: the cohort's first ten ids
    * in string order. */
  def worstComboUsers(k: Int): Seq[String] =
    (for (t <- 0 until k; i <- IosCohort) yield userId(t, i)).sorted.take(10)

  def winners(k: Int): Seq[String] = (0 until k).map(userId(_, Winner))

  def writeLanding(landing: Path, k: Int, seed: Long): Drop = {
    val rnd = new Random(seed)
    Files.createDirectories(landing)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

    val users = for (t <- 0 until k; i <- 1 to 100) yield
      f"${userId(t, i)},2025-0${1 + rnd.nextInt(8)}-${1 + rnd.nextInt(28)}%02d," +
        s"${pick(Seq("Free", "Basic", "Premium"))},${pick(Seq("18-25", "26-35", "36-50", "50+"))}," +
        pick(Seq("Male", "Female", "Other"))
    val videos = (1 to 20).map { v =>
      s"video_$v,Video Title $v,${Genres((v - 1) % 4)},${78 + rnd.nextInt(3430)},patent_${1 + rnd.nextInt(5)}"
    }
    val devices = Seq(
      "mobile,iOS,iPhone X,14.6", "mobile,Android,Galaxy S20,11",
      "mobile,Android,Pixel 5,12", "tablet,iOS,iPad Pro,14.6",
      "tablet,Android,Samsung Tab,10")

    val events = ArrayBuffer.empty[String]
    for (t <- 0 until k; i <- 1 to 100) {
      val uid = userId(t, i)
      val (os, appVer) = Combos(comboOf(i))
      val video = i % 4 + 1 // genre Genres(i % 4): video_(g+1) has genre g
      val comedy = i % 4 == 1
      val device = pick(Seq("mobile", "tablet"))
      for (day <- 0 to 4; sub <- 0 to 1) {
        val session = s"${uid}_sess_${day}_$sub"
        val first = day == 0 && sub == 0
        val hour = 6 + sub * 6
        var minute = 0
        def emit(name: String, value: Option[Double]): Unit = {
          val ts = f"2025-04-${1 + day}%02dT$hour%02d:$minute%02d:00"
          minute += 1
          val v = value.map(x => f"$x%.1f").getOrElse("null")
          events += s"""{"timestamp": "$ts", "account_id": "acct_${i + 100 * t}", "video_id": "video_$video", "user_id": "$uid", "event_name": "$name", "value": $v, "device": "$device", "app_version": "$appVer", "device_os": "$os", "network_type": "${pick(Seq("wifi", "4g", "5g"))}", "ip": "10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}", "country": "${pick(Seq("US", "BR", "DE", "IN", "JP"))}", "session_id": "$session"}"""
        }
        emit("play", None)
        if (first) {
          if (i == Winner) (1 to 5).foreach(_ => emit("watch_time", Some(7.8)))
          else if (NoWatch.contains(i)) emit("pause", None)
          else if (isLowWatch(i)) { emit("watch_time", Some(1.0)); emit("watch_time", Some(1.5)) }
          else { emit("watch_time", Some(6.0)); emit("watch_time", Some(7.5)) }
        } else {
          val v = if (comedy) 9.0 else 3.0
          emit("watch_time", Some(v)); emit("watch_time", Some(v))
        }
        emit("stop", None)
      }
    }

    val bytes =
      write(landing.resolve(s"users_$IngestionDate.csv"),
        "user_id,signup_date,subscription_tier,age_group,gender", rnd.shuffle(users)) +
      write(landing.resolve(s"videos_$IngestionDate.csv"),
        "video_id,title,genre,duration_seconds,patent_id", rnd.shuffle(videos)) +
      write(landing.resolve(s"devices_$IngestionDate.csv"),
        "device,os,model,os_version", rnd.shuffle(devices)) +
      write(landing.resolve(s"events_$IngestionDate.jsonl"), null, rnd.shuffle(events.toSeq))
    Drop(users.size, videos.size, devices.size, events.size, bytes)
  }

  private def write(p: Path, header: String, rows: Seq[String]): Long = {
    val lines = Option(header).toSeq ++ rows
    val b = lines.mkString("\n").getBytes(StandardCharsets.UTF_8)
    Files.write(p, b)
    b.length.toLong
  }
}

/** Text corpora in the shape of the generated `documents` test table:
  * whitespace-separated words from a 30-word vocabulary, 10-100 tokens
  * per document. */
object DocGen {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window")

  def randomText(rnd: Random, minTokens: Int, maxTokens: Int): Array[String] =
    Array.fill(minTokens + rnd.nextInt(maxTokens - minTokens + 1))(Vocab(rnd.nextInt(Vocab.size)))

  /** `n` documents; about 5 % repeat an earlier document with a trailing
    * " dup" token (the planted near-duplicates of the test table). The
    * content depends on `contentSeed` only; `orderSeed` permutes rows. */
  def plantedCorpus(n: Int, contentSeed: Long, orderSeed: Long): Seq[(Long, String)] = {
    val rnd = new Random(contentSeed)
    val texts = new Array[String](n)
    for (i <- 0 until n)
      texts(i) =
        if (i > 0 && rnd.nextDouble() < 0.05) texts(rnd.nextInt(i)) + " dup"
        else randomText(rnd, 10, 100).mkString(" ")
    new Random(orderSeed).shuffle(texts.indices.map(i => (i.toLong, texts(i))))
  }

  /** `families` originals of 40-100 tokens, each with `size - 1`
    * variants that replace one token; ids are a seeded permutation, so a
    * family's members are scattered over the id range. Families are
    * near-cliques: every two members differ in at most two tokens. */
  def families(families: Int, size: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val texts = for (_ <- 0 until families; orig = randomText(rnd, 40, 100); v <- 0 until size)
      yield {
        if (v > 0) {
          val at = rnd.nextInt(orig.length)
          val copy = orig.clone()
          copy(at) = Vocab((Vocab.indexOf(orig(at)) + 1 + rnd.nextInt(Vocab.size - 1)) % Vocab.size)
          copy.mkString(" ")
        } else orig.mkString(" ")
      }
    val ids = rnd.shuffle((0L until texts.size.toLong).toVector)
    ids.zip(texts).sortBy(_._1)
  }
}
