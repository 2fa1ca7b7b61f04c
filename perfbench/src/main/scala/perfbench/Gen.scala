package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The program under test only ever sees the
  * rows these produce; the same (seed, stream, index) always yields the
  * same rows, so a run's outputs are a function of the seed and the code.
  */
object Gen {

  final case class Listing(item_id: Long, title: String, description: String,
      price: Double)
  final case class Doc(doc_id: Long, text: String)

  /** Listing strata. Shares are of all generated listings. */
  val SymbolicShare = 0.03 // price 1.0, real price only in the text
  val SpamShare = 0.05     // external-contact phone number in the text
  val UnderpricedShare = 0.06 // priced at 20-40% of the segment norm

  /** Document strata. Shares are of all generated documents. */
  val NearDupShare = 0.10      // one-token edit of an earlier fresh doc
  val DegenerateShare = 0.05   // a per-doc-unique phrase repeated 30 times

  private def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream * 7919L + index)

  // --- listings -------------------------------------------------------

  /** (category keyword phrase, base price) per category stratum. */
  private val Models: Array[(String, Double)] = Array(
    ("macbook air m1 8gb", 750.0), ("macbook pro m2 16gb", 1400.0),
    ("portatil gaming i7 rtx 3060 16gb ram", 1100.0),
    ("msi gaming i5 gtx 1650 8gb", 650.0),
    ("thinkpad t480 i5 8gb", 420.0), ("latitude 7490 i7 16gb", 520.0),
    ("xps 13 i7 16gb", 900.0), ("zenbook 14 i5 8gb", 600.0),
    ("chromebook celeron 4gb", 160.0), ("portatil hp i3 8gb", 300.0))

  /** (condition phrase, price factor) per condition stratum. */
  private val Conditions: Array[(String, Double)] = Array(
    ("nuevo precintado con factura", 1.15), ("como nuevo impecable", 1.0),
    ("en buen estado funcionando correctamente", 0.85),
    ("con algun aranazo pero funciona", 0.75),
    ("no enciende para piezas", 0.3))

  private val Filler: Array[String] = Array(
    "entrego", "en", "mano", "envio", "disponible", "bateria", "buena",
    "cargador", "original", "incluido", "teclado", "espanol", "pantalla",
    "sin", "golpes", "uso", "diario", "oficina", "estudios", "caja",
    "ssd", "rapido", "perfecto", "para", "clases", "madrid", "barcelona",
    "valencia", "sevilla", "negociable", "poco", "trato", "serio", "zona",
    "centro", "recogida", "tarde", "fin", "de", "semana", "regalo", "funda")

  /** Words of the English descriptions some sellers write; none of them
    * is a condition or hardware keyword of the extraction rules. */
  private val English: Array[String] = Array("selling", "my", "laptop",
    "works", "fine", "charger", "box", "included", "pick", "up", "city",
    "center", "price", "firm", "thanks", "looking", "daily", "office",
    "work", "battery", "lasts", "hours", "screen", "keyboard", "clean",
    "moving", "abroad", "quick", "sale", "weekend", "evenings")
  private val EnglishStop: Array[String] = Array("the", "and", "with", "of",
    "in", "is", "it", "for", "to", "a")
  val EnglishShare = 0.3 // descriptions with an English paragraph

  /** One listing; `id` is globally unique per stream. */
  def listing(seed: Long, stream: Long, id: Long): Listing = {
    val r = rng(seed, stream, id)
    val (model, base) = Models(r.nextInt(Models.length))
    val (cond, factor) = Conditions(r.nextInt(Conditions.length))
    val spanish = Iterator.fill(6 + r.nextInt(10))(Filler(r.nextInt(Filler.length)))
      .mkString(" ")
    val extra =
      if (r.nextDouble() >= EnglishShare) spanish
      else spanish + "\n" + Iterator.tabulate(40 + r.nextInt(40)) { k =>
        if (k % 3 == 1) EnglishStop(r.nextInt(EnglishStop.length))
        else English(r.nextInt(English.length))
      }.mkString(" ")
    val norm = base * factor * (0.85 + 0.3 * r.nextDouble())
    val u = r.nextDouble()
    val title = s"$model ${Filler(r.nextInt(Filler.length))}"
    if (u < SymbolicShare) {
      val real = math.round(norm)
      Listing(id, title, s"vendo por $real euros urgente $cond $extra", 1.0)
    } else if (u < SymbolicShare + SpamShare) {
      val phone = 600000000L + r.nextInt(99999999)
      Listing(id, title, s"$cond $extra whatsapp $phone", round2(norm))
    } else if (u < SymbolicShare + SpamShare + UnderpricedShare) {
      Listing(id, title, s"$cond $extra",
        round2(norm * (0.2 + 0.2 * r.nextDouble())))
    } else Listing(id, title, s"$cond $extra", round2(norm))
  }

  def listings(seed: Long, stream: Long, from: Long, n: Int): Seq[Listing] =
    (0 until n).map(i => listing(seed, stream, from + i))

  private def round2(d: Double): Double = math.round(d * 100.0) / 100.0

  // --- documents ------------------------------------------------------

  private val Stop: Array[String] = Array("the", "of", "and", "to", "in",
    "is", "for", "with", "on", "that", "it", "as", "was", "by", "this")
  private val Syl: Array[String] = Array("ka", "lo", "mi", "ren", "tas",
    "vo", "dri", "pel", "sun", "gor", "ab", "qua", "ne", "fit", "zor",
    "ul", "bex", "cha", "pro", "tin", "mar", "ek", "sol", "vin")
  /** Content vocabulary: 24^3 pseudo-words, so two fresh documents
    * rarely share a word trigram. */
  private def word(r: SplittableRandom): String =
    Syl(r.nextInt(Syl.length)) + Syl(r.nextInt(Syl.length)) + Syl(r.nextInt(Syl.length))

  private def freshText(seed: Long, id: Long): String = {
    val r = rng(seed, 99L, id)
    val n = 60 + r.nextInt(60)
    Iterator.tabulate(n) { i =>
      if (i % 3 == 1) Stop(r.nextInt(Stop.length)) else word(r)
    }.grouped(10).map(_.mkString(" ")).mkString(".\n") + "."
  }

  /** Kind of document `id` of a stream whose first id is `floor`:
    * 0 fresh, 1 near-dup, 2 degenerate. */
  def docKind(seed: Long, floor: Long, id: Long): Int = {
    val u = rng(seed, 98L, id).nextDouble()
    if (id - floor < 50 || u >= NearDupShare + DegenerateShare) 0
    else if (u < NearDupShare) 1 else 2
  }

  /** Document `id`. Near-dups copy a fresh document of the same stream
    * from up to 5000 ids back (so both within-trigger and cross-trigger
    * duplicates occur) and change one word. */
  def doc(seed: Long, floor: Long, id: Long): Doc = docKind(seed, floor, id) match {
    case 0 => Doc(id, freshText(seed, id))
    case 1 =>
      val r = rng(seed, 97L, id)
      var src = id - 1 - r.nextInt(math.min(id - floor, 5000L).toInt)
      while (docKind(seed, floor, src) != 0) src -= 1
      val w = freshText(seed, src).split(" ")
      w(r.nextInt(w.length)) = word(r)
      Doc(id, w.mkString(" "))
    case _ =>
      Doc(id, Iterator.fill(30)(s"claim the offer now x$id").mkString(" "))
  }

  def docs(seed: Long, floor: Long, from: Long, n: Int): Seq[Doc] =
    (0 until n).map(i => doc(seed, floor, from + i))
}
