package graftbench

import java.time.Instant

/** Seeded order-event generator in the reference wire format.
  *
  * Event `i` is a pure function of (seed, i): a JSON payload in the
  * declared schema (FIXTURES.md A1) or, for 5% of events, the producer's
  * drifted payload (A2: `customer_id`/`region`, no category, event type
  * or fraud flag), plus its creation time. Creation times follow a fixed
  * schedule, `startMs + i / rate`, that does not wait for graft.
  *
  * Event time runs `speed` times faster than the creation clock, so the
  * 1-minute windows and the 30 s watermark of the reference topology
  * close windows within a short run. Lateness is in event time: 3% of
  * events are 5-20 s late (inside the watermark, so counted) and 1% are
  * 15-30 minutes late (far past it, so dropped by the aggregation).
  *
  * Cardinalities: 12 categories, 200 products with fixed prices, 40
  * locations plus the three suspicious ones (0.5%), 20,000 users with a
  * skewed (quadratic) draw, quantity 1-5, 1% simulated fraud.
  */
final class OrderGen(seed: Long, val rate: Int, val speed: Int, val startMs: Long) extends Serializable {
  import OrderGen._

  /** Scheduled creation time of event `i` (epoch ms). */
  def createdMs(i: Long): Long = startMs + i * 1000L / rate

  /** On-time event time of an event created at `createdMs`. */
  def eventMs(createdMs: Long): Long = EventBase + (createdMs - startMs) * speed

  /** The creation time at which on-time event time reaches `eventMs`. */
  def wallAt(eventMs: Long): Double = startMs + (eventMs - EventBase).toDouble / speed

  /** JSON payload of event `i`. */
  def payload(i: Long): String = {
    val r = new java.util.SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + i))
    val u = r.nextDouble()
    val late =
      if (u < 0.03) 5000L + r.nextLong(15000L)
      else if (u < 0.04) 900000L + r.nextLong(900000L)
      else 0L
    val ts = Instant.ofEpochMilli(eventMs(createdMs(i)) - late).toString.stripSuffix("Z")
    val product = r.nextInt(Products)
    val price = Prices(product)
    val qty = 1 + r.nextInt(5)
    val total = math.round(price * qty * 100) / 100.0
    val user = (Users * math.pow(r.nextDouble(), 2)).toInt
    val loc =
      if (r.nextDouble() < 0.005) Suspicious(r.nextInt(Suspicious.length))
      else Locations(r.nextInt(Locations.length))
    val fraud = r.nextDouble() < 0.01
    val id = s"ord-$seed-$i"
    if (r.nextDouble() < 0.05)
      s"""{"order_id":"$id","customer_id":"CUST_$user","product_id":"P$product",""" +
        s""""product_name":"${Names(product)}","quantity":$qty,"price":$price,""" +
        s""""total_amount":$total,"timestamp":"$ts","region":"$loc"}"""
    else
      s"""{"order_id":"$id","user_id":"user_$user","product_id":"P$product",""" +
        s""""product_name":"${Names(product)}","category":"${Categories(product % Categories.length)}",""" +
        s""""price":$price,"quantity":$qty,"total_amount":$total,"location":"$loc",""" +
        s""""timestamp":"$ts","event_type":"order_placed","is_fraud_simulation":$fraud}"""
  }

  /** Index of the event an order id names. */
  def indexOf(orderId: String): Long = orderId.substring(orderId.lastIndexOf('-') + 1).toLong
}

object OrderGen {
  /** Event-time origin (2024-06-01T00:00:00Z), minute-aligned. */
  val EventBase: Long = 1717200000000L
  val Users = 20000
  val Products = 200
  val Categories: Array[String] = Array("Electronics", "Clothing", "Home", "Books", "Sports", "Toys",
    "Beauty", "Grocery", "Automotive", "Health", "Jewelry", "Office")
  val Locations: Array[String] = Array("US-East", "US-West", "US-Central", "CA", "MX", "BR", "AR",
    "UK", "IE", "FR", "DE", "NL", "BE", "ES", "PT", "IT", "CH", "AT", "SE", "NO", "DK", "FI", "PL",
    "CZ", "GR", "TR", "IL", "AE", "IN", "SG", "MY", "TH", "VN", "JP", "KR", "CN", "AU", "NZ", "ZA", "EG")
  val Suspicious: Array[String] = Array("XX", "YY", "ZZ")
  private val products = new java.util.SplittableRandom(7L)
  /** Fixed price list: log-uniform from $5 to $800, in cents. */
  val Prices: Array[Double] = Array.fill(Products)(
    math.round(5.0 * math.pow(160.0, products.nextDouble()) * 100) / 100.0)
  val Names: Array[String] = Array.tabulate(Products)(p => s"Product $p")

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
