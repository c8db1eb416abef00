package perfbench

import java.nio.charset.StandardCharsets
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** One Kafka message of the order topic. `rows` are the flat sink rows
  * the message should upsert, keyed by (purchaseOrderId, sku), with
  * every sink column except `load_time` rendered as [[OrderGen.cell]]
  * does; a malformed message has none. */
final case class OrderMsg(partition: Int, key: String, json: String,
                          rows: Seq[Map[String, String]])

/** Seeded Walmart-shaped order stream (the record of FIXTURES.md §1):
  * new orders of 1-3 lines, status updates that re-send an earlier
  * order with a later line status, and truncated JSON. Messages are
  * keyed by purchaseOrderId over [[OrderGen.Partitions]] partitions,
  * so an order's updates follow it in its partition.
  *
  * The expected sink table comes from the generator, not the engine:
  * the last message per (purchaseOrderId, sku) in partition order. */
object OrderGen {
  val Partitions = 3
  val UpdateShare = 0.20
  val MalformedShare = 0.01

  private val statuses = Array("Created", "Acknowledged", "Shipped", "Delivered")
  private val cities = Array("Austin", "Denver", "Phoenix", "Seattle", "Atlanta", "Boston")
  private val states = Array("TX", "CO", "AZ", "WA", "GA", "MA")
  private val carriers = Array("UPS", "FedEx", "USPS", "OnTrac")
  private val words = Array("Stainless", "Steel", "Water", "Bottle", "Kids", "Garden",
    "Hose", "Cordless", "Drill", "Organic", "Coffee", "Beans", "LED", "Desk", "Lamp",
    "Cotton", "Towel", "Set", "Wireless", "Mouse", "Ceramic", "Pan", "Yoga", "Mat")
  private val requestFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val t0 = LocalDateTime.of(2025, 10, 1, 0, 0).toInstant(ZoneOffset.UTC).toEpochMilli

  /** How a sink column value is compared: the JDBC value rendered as a
    * string, timestamps as epoch milliseconds, decimals at scale 2. */
  def cell(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => t.getTime.toString
    case d: java.math.BigDecimal => d.setScale(2).toPlainString
    case x => x.toString
  }

  private final case class Line(n: Int, sku: String, product: String, qty: Int,
                                amount: Long, tax: Long, storeId: Option[String])

  private final case class Order(id: Long, customerOrderId: Long, email: String,
                                 orderDate: Long, phone: String, name: String,
                                 address2: Option[String], city: Int, postal: String,
                                 method: String, node: Int, lines: Seq[Line])

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Message JSON and sink rows of `o` at status step `step`, sent at
    * `sentMs`. */
  private def render(o: Order, step: Int, sentMs: Long): (String, Seq[Map[String, String]]) = {
    val status = statuses(step)
    val statusDate = o.orderDate + step * 3600000L * 7
    val shipped = step >= 2
    val request = LocalDateTime.ofEpochSecond(sentMs / 1000, 0, ZoneOffset.UTC).format(requestFmt)
    val estShip = o.orderDate + 86400000L
    val estDelivery = o.orderDate + 4 * 86400000L
    val nodeType = Seq("SellerFulfilled", "WFSFulfilled", "3PLFulfilled")(o.node % 3)
    val carrier = carriers(o.node % carriers.length)
    val lineJson = o.lines.map { l =>
      val tracking =
        if (!shipped) "null"
        else s"""{"shipDateTime":${statusDate - 600000L},"carrierName":{"otherCarrier":null,"carrier":"$carrier"},""" +
          s""""methodCode":"${o.method}","carrierMethodCode":"${o.method.toUpperCase}-1",""" +
          s""""trackingNumber":"1Z${o.id}${l.n}","trackingURL":"https://www.walmart.com/tracking?tracking_id=1Z${o.id}${l.n}&order_id=${o.id}"}"""
      s"""{"lineNumber":"${l.n}","item":{"productName":"${esc(l.product)}","sku":"${l.sku}","condition":"New"},""" +
        s""""charges":{"charge":[{"chargeType":"PRODUCT","chargeName":"ItemPrice",""" +
        s""""chargeAmount":{"currency":"USD","amount":${money(l.amount)}},""" +
        s""""tax":{"taxName":"Tax1","taxAmount":{"currency":"USD","amount":${money(l.tax)}}}}]},""" +
        s""""orderLineQuantity":{"unitOfMeasurement":"EACH","amount":"${l.qty}"},"statusDate":$statusDate,""" +
        s""""orderLineStatuses":{"orderLineStatus":[{"status":"$status",""" +
        s""""statusQuantity":{"unitOfMeasurement":"EACH","amount":"${l.qty}"},""" +
        s""""cancellationReason":null,"trackingInfo":$tracking}]},""" +
        s""""refund":null,"originalCarrierMethod":"22","referenceLineId":"${o.id}-${l.n}",""" +
        s""""fulfillment":{"fulfillmentOption":"S2H","shipMethod":"${o.method.toUpperCase}",""" +
        s""""storeId":${l.storeId.map(s => "\"" + s + "\"").getOrElse("null")},"pickUpDateTime":${estShip},""" +
        s""""pickUpBy":null,"shippingProgramType":null},"serialNumbers":[],"intentToCancel":"false",""" +
        s""""configId":null,"sellerOrderId":"${o.customerOrderId}","returnCenterAddress":null}"""
    }
    val json =
      s"""{"purchaseOrderId":"${o.id}","customerOrderId":"${o.customerOrderId}",""" +
      s""""customerEmailId":"${o.email}","orderType":"REGULAR","originalCustomerOrderID":"${o.customerOrderId}",""" +
      s""""orderDate":${o.orderDate},"request_time":"$request","shippingInfo":{"phone":"${o.phone}",""" +
      s""""estimatedDeliveryDate":$estDelivery,"estimatedShipDate":$estShip,"methodCode":"${o.method}",""" +
      s""""carrierMethodName":null,"postalAddress":{"name":"${esc(o.name)}","address1":"${100 + o.node} Market Street",""" +
      s""""address2":${o.address2.map(a => "\"" + a + "\"").getOrElse("null")},"city":"${cities(o.city)}",""" +
      s""""state":"${states(o.city)}","postalCode":"${o.postal}","country":"USA","addressType":"RESIDENTIAL"}},""" +
      s""""orderLines":{"orderLine":[${lineJson.mkString(",")}]},""" +
      s""""shipNode":{"type":"$nodeType","name":"Node ${o.node}","id":"${7000 + o.node}"}}"""
    val requestMs = (sentMs / 1000) * 1000
    val rows = o.lines.map { l =>
      def ms(x: Long) = x.toString
      Map[String, String](
        "purchaseOrderId" -> o.id.toString, "customerOrderId" -> o.customerOrderId.toString,
        "customerEmailId" -> o.email, "orderDate" -> ms(o.orderDate),
        "orderDate_formatted" -> ms(o.orderDate), "shipNode_type" -> nodeType,
        "shipNode_name" -> s"Node ${o.node}", "shipNode_id" -> s"${7000 + o.node}",
        "source_file" -> "kafka_stream", "phone" -> o.phone,
        "estimatedDeliveryDate" -> ms(estDelivery), "estimatedDeliveryDate_formatted" -> ms(estDelivery),
        "estimatedShipDate" -> ms(estShip), "estimatedShipDate_formatted" -> ms(estShip),
        "methodCode" -> o.method, "recipient_name" -> o.name,
        "address1" -> s"${100 + o.node} Market Street", "address2" -> o.address2.getOrElse("null"),
        "city" -> cities(o.city), "state" -> states(o.city), "postalCode" -> o.postal,
        "country" -> "USA", "addressType" -> "RESIDENTIAL", "lineNumber" -> l.n.toString,
        "sku" -> l.sku, "productName" -> l.product, "product_condition" -> "New",
        "quantity" -> l.qty.toString, "unitOfMeasurement" -> "EACH",
        "statusDate" -> ms(statusDate), "statusDate_formatted" -> ms(statusDate),
        "fulfillmentOption" -> "S2H", "shipMethod" -> o.method.toUpperCase,
        "storeId" -> l.storeId.getOrElse("null"), "shippingProgramType" -> "null",
        "chargeType" -> "PRODUCT", "chargeName" -> "ItemPrice", "chargeAmount" -> money(l.amount),
        "currency" -> "USD", "taxAmount" -> money(l.tax), "taxName" -> "Tax1",
        "orderLineStatus" -> status, "statusQuantity" -> l.qty.toString,
        "cancellationReason" -> "null",
        "shipDateTime" -> (if (shipped) ms(statusDate - 600000L) else "null"),
        "shipDateTime_formatted" -> (if (shipped) ms(statusDate - 600000L) else "null"),
        "carrierName" -> (if (shipped) carrier else "null"),
        "carrierMethodCode" -> (if (shipped) s"${o.method.toUpperCase}-1" else "null"),
        "trackingNumber" -> (if (shipped) s"1Z${o.id}${l.n}" else "null"),
        "trackingURL" -> (if (shipped) s"https://www.walmart.com/tracking?tracking_id=1Z${o.id}${l.n}&order_id=${o.id}" else "null"),
        "request_time" -> ms(requestMs))
    }
    (json, rows)
  }

  /** `n` messages from `seed`, in send order. */
  def messages(seed: Long, n: Int): Seq[OrderMsg] = {
    val r = new SplittableRandom(seed)
    val open = mutable.ArrayBuffer.empty[(Order, Int)] // orders that can still advance
    val out = mutable.ArrayBuffer.empty[OrderMsg]
    var nextId = 1000000000000L + (seed & 0xffffff) * 100000L
    def partitionOf(id: Long): Int = Math.floorMod(id.toString.hashCode, Partitions)
    for (i <- 0 until n) {
      val sentMs = t0 + i * 1000L
      val kind = r.nextDouble()
      if (kind < MalformedShare) {
        val id = nextId; nextId += 1
        val json = s"""{"purchaseOrderId":"$id","customerOrderId":"${id + 7}","orderLines":{"orderLine":[{"lineNumber":"1","item":{"sku":"SKU-"""
        out += OrderMsg(partitionOf(id), id.toString, json, Nil)
      } else if (kind < MalformedShare + UpdateShare && open.nonEmpty) {
        val k = r.nextInt(open.size)
        val (o, step) = open(k)
        val (json, rows) = render(o, step + 1, sentMs)
        if (step + 1 >= statuses.length - 1) open.remove(k) else open(k) = (o, step + 1)
        out += OrderMsg(partitionOf(o.id), o.id.toString, json, rows)
      } else {
        val id = nextId; nextId += 1
        val nLines = 1 + r.nextInt(3)
        val lines = (1 to nLines).map { ln =>
          val product = Array.fill(6 + r.nextInt(5))(words(r.nextInt(words.length))).mkString(" ")
          val amount = 199L + r.nextInt(49800)
          Line(ln, s"SKU-${r.nextInt(1000000)}-$ln", product, 1 + r.nextInt(4), amount,
            amount * 8 / 100, if (r.nextInt(4) == 0) Some(s"${3000 + r.nextInt(900)}") else None)
        }
        val o = Order(id, id * 7 + 13, s"buyer${r.nextInt(100000)}@relay.walmart.com",
          t0 - r.nextInt(86400) * 1000L, f"${2000000000L + r.nextInt(999999999)}%d",
          s"Customer ${r.nextInt(100000)}", if (r.nextBoolean()) Some(s"Apt ${r.nextInt(900)}") else None,
          r.nextInt(cities.length), f"${10000 + r.nextInt(89999)}%05d",
          Seq("Standard", "Value", "Express")(r.nextInt(3)), r.nextInt(40), lines)
        val (json, rows) = render(o, 0, sentMs)
        open += ((o, 0))
        out += OrderMsg(partitionOf(id), id.toString, json, rows)
      }
    }
    out.toSeq
  }

  /** The final sink table: the last row per (purchaseOrderId, sku) in
    * partition order. */
  def expectedTable(msgs: Seq[OrderMsg]): Map[(String, String), Map[String, String]] = {
    val m = mutable.LinkedHashMap.empty[(String, String), Map[String, String]]
    msgs.groupBy(_.partition).toSeq.sortBy(_._1).foreach { case (_, ms) =>
      ms.foreach(_.rows.foreach(row => m((row("purchaseOrderId"), row("sku"))) = row))
    }
    m.toMap
  }

  /** Writes `msgs` into a file-backed topic, one `produce` per partition. */
  def writeTopic(dir: String, topic: String, msgs: Seq[OrderMsg]): Unit =
    msgs.groupBy(_.partition).toSeq.sortBy(_._1).foreach { case (p, ms) =>
      graft.sources.FileKafka.produce(dir, topic, p,
        ms.map(m => (m.key.getBytes(StandardCharsets.UTF_8), m.json.getBytes(StandardCharsets.UTF_8))),
        timestampMillis = t0)
    }
}
