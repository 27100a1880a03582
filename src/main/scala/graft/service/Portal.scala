package graft.service

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.service.Prepared.param
import graft.store.{Catalog, Schemas}

/** Reference-parity service API — one method per db.py function
  * (db.py:200-468), with the §0.1 defects resolved:
  *   - roles canonicalized to lower case (mismatch app.py:74 vs 144)
  *   - "newest card" defined as max(card_id), not result order (app.py:290)
  *   - payment INSERT + registration UPDATE are atomic (db.py:450-468 is
  *     not, SURVEY §0.1.9) via one manifest swap
  *   - eventStats is a single grouped aggregate, not the 1+2N per-event
  *     query loop (app.py:154-166)
  *
  * Card crypto: aes_encrypt/aes_decrypt (GCM, random IV) — semantic parity
  * with the reference's Fernet tokens (db.py:412-423), not byte-compatible.
  *
  * Every read is a [[Prepared]] read: its plan is built, analyzed and
  * optimized once per Portal as a template over the tables it reads and
  * its typed parameters, bound per call to the tables' current
  * snapshots (all of one version) and the call's values, and rebuilt
  * when a table's schema changes (`addColumn`, `renameColumn`). While
  * the tables are served from driver memory, a call folds its bound
  * template into one in-memory relation on the driver and runs no Spark
  * query: the point reads (`authenticateUser`, `getUserByEmail`,
  * `getEvent`, `newestCardId`) convert its rows directly, and the
  * frame-returning reads hand out a frame over it. The templates are
  * immutable, so one Portal serves concurrent clients. Point writes
  * hand the store their rows as an in-memory batch.
  */
final class Portal(cat: Catalog, aesKey: String = Portal.defaultKey) {
  private val spark = cat.spark
  import spark.implicits._

  private def now() = new Timestamp(System.currentTimeMillis())

  /** One row of a table whose id column (`table`'s first field) the
    * store assigns, as a frame over an in-memory relation. Each value
    * converts to its column's type as a cast to it would: a decimal
    * rounds half-up to the column's scale, and one too wide for it fails
    * under ANSI mode and is NULL without it. */
  private def rowOf(table: StructType, values: Any*): DataFrame = {
    val fields = table.fields.toSeq.tail
    val conf = spark.sessionState.conf
    val row = InternalRow.fromSeq(fields.zip(values).map { case (f, v) =>
      val value = Literal(v)
      if (value.dataType == f.dataType) value.value
      else Cast(value, f.dataType, Some(conf.sessionLocalTimeZone),
        EvalMode.fromSQLConf(conf)).eval()
    })
    GraftSqlShim.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(StructType(fields)), Seq(row)))
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---- validation (P7, app.py:79-94) ----
  private def require(cond: Boolean, msg: String): Unit =
    if (!cond) throw new IllegalArgumentException(msg)

  def validEmail(e: String): Boolean = e.contains("@") && e.contains(".")
  def validPhone(p: String): Boolean = p.forall(_.isDigit) && p.length == 10

  // ---- users (db.py:202-247) ----

  /** create_user (db.py:202-216): returns the generated user_id. */
  def createUser(firstName: String, lastName: String, phone: String,
      email: String, password: String, role: String = "user"): Long = {
    require(firstName.trim.nonEmpty && email.trim.nonEmpty,
      "name and email required")
    require(validEmail(email), "invalid email")
    require(phone.isEmpty || validPhone(phone), "invalid phone")
    require(password.length >= 6, "password too short")
    cat.append("users", rowOf(Schemas.users, firstName, lastName, phone,
      email, sha256Hex(password), role.toLowerCase, now()))
  }

  /** get_user_by_email (db.py:219-231). */
  def getUserByEmail(email: String): Option[Row] =
    userByEmail.first("email" -> email)

  private[service] val userByEmail = new Prepared(cat, "users")(t =>
    t("users").filter($"email" === param("email", StringType))
      .orderBy($"user_id".desc).limit(1))

  /** authenticate_user (db.py:234-247): the hash compare is pushed into
    * the plan (P6) instead of fetched-then-compared in the client. The
    * returned row is projected to the reference's field set — db.py:238-246
    * deliberately strips password_hash from the authenticated-user dict,
    * so callers never receive the credential digest. */
  def authenticateUser(email: String, password: String): Option[Row] =
    authenticated.first("email" -> email, "password" -> password)

  private[service] val authenticated = new Prepared(cat, "users")(t =>
    t("users")
      .filter($"email" === param("email", StringType)
        && $"password_hash" === sha2(param("password", StringType), 256))
      .select($"user_id", $"first_name", $"last_name", $"email", $"phone",
        $"user_role")
      .limit(1))

  /** §0.1.4 decision: dashboard gate accepts {admin, organizer}, any case. */
  def isAdmin(user: Row): Boolean =
    Set("admin", "organizer")(
      Option(user.getAs[String]("user_role")).getOrElse("").toLowerCase)

  // ---- events (db.py:252-333) ----

  /** add_event (db.py:252-264); validation actually blocks the insert
    * (§0.1.5 decision). */
  def addEvent(name: String, description: String, date: Timestamp,
      timeSec: Int, location: String, eventType: String, organizerId: Long,
      price: BigDecimal, capacity: Int = 0): Long = {
    require(name.trim.nonEmpty && location.trim.nonEmpty, "missing fields")
    cat.append("events", rowOf(Schemas.events, name, description, date,
      timeSec, location, eventType, organizerId, price, capacity, true,
      now()))
  }

  /** list_events (db.py:267-293): is_active filter, date sort, renamed
    * projection with double-cast price (P2). */
  def listEvents(): DataFrame = activeEvents()

  private[service] val activeEvents = new Prepared(cat, "events")(t =>
    t("events")
      .filter($"is_active")
      .orderBy($"event_date".asc, $"event_id".asc)
      .select($"event_id".as("id"), $"event_name".as("title"),
        $"event_description".as("description"), $"event_date",
        $"event_time_sec", $"location", $"event_type",
        $"price".cast("double").as("price")))

  /** get_event point lookup (db.py:296-319). */
  def getEvent(eventId: Long): Option[Row] =
    eventById.first("event_id" -> eventId)

  private[service] val eventById = new Prepared(cat, "events")(t =>
    t("events").filter($"event_id" === param("event_id", LongType)).limit(1))

  /** delete_event = soft delete (db.py:322-333). */
  def deleteEvent(eventId: Long): Unit =
    cat.update("events", col("event_id") === eventId,
      Map("is_active" -> lit(false)))

  // ---- registrations & payments (db.py:336-468) ----

  /** register_user_for_event (db.py:336-348). */
  def registerUserForEvent(userId: Long, eventId: Long): Long = {
    cat.append("registrations", rowOf(Schemas.registrations, userId, eventId,
      "Pending", now()))
  }

  /** record_payment (db.py:450-468): INSERT payment + UPDATE registration
    * status, committed atomically (the reference intends but does not
    * achieve this, §0.1.9). Returns the payment_id.
    *
    * §0.1 decision: the reference flips the registration to 'Success'
    * unconditionally (db.py:459-463), so a FAILED payment marks the
    * registration paid — here the registration mirrors the payment's
    * actual status, so a failed attempt records the payment row but never
    * upgrades the registration.
    *
    * The body only stages rows built from its arguments, so it is safe
    * to re-run: a conflict with a concurrent payment (both allocated
    * payment ids in a two-table transaction) re-runs it against the new
    * snapshot ([[Catalog.retried]]) instead of failing the call. */
  def recordPayment(userId: Long, registrationId: Long,
      cardId: Option[Long] = None, amount: BigDecimal = 0,
      paymentType: String = "Free",
      paymentStatus: String = "Success"): Long =
    cat.retried { tx =>
      val row = rowOf(Schemas.payments, userId, registrationId,
        cardId.map(Long.box).orNull, amount, paymentType, paymentStatus, now())
      val paymentId = tx.append("payments", row)
      if (paymentStatus == "Success")
        tx.update("registrations",
          col("registration_id") === registrationId,
          Map("payment_status" -> lit("Success")))
      () => paymentId + tx.shiftOf("payments")
    }()

  /** event_stats for ALL events in one grouped plan (fixes J5's 1+2N
    * loop, app.py:154-166 / db.py:352-372): registrations count + revenue
    * of successful payments per event.
    *
    * While the three tables are served from driver memory, the bound
    * template's joins and aggregates fold on the driver
    * ([[graft.plans.LocalPlanFold]]) when the call is made, and the
    * returned frame is over the folded rows: its `collect` optimizes
    * and plans a single in-memory relation and runs no Spark job. */
  def eventStats(): DataFrame = stats()

  private[service] val stats =
    new Prepared(cat, "events", "registrations", "payments")({ t =>
      val regs = t("registrations")
      val pays = t("payments").filter($"payment_status" === "Success")
      val revenue = pays.join(regs.select("registration_id", "event_id"),
          Seq("registration_id"))
        .groupBy($"event_id")
        .agg(coalesce(sum($"amount"), lit(0).cast("decimal(18,2)"))
          .as("revenue"))
      val counts = regs.groupBy($"event_id")
        .agg(count(lit(1)).as("registrations"))
      t("events").select($"event_id")
        .join(counts, Seq("event_id"), "left")
        .join(revenue, Seq("event_id"), "left")
        .select($"event_id",
          coalesce($"registrations", lit(0L)).as("registrations"),
          coalesce($"revenue".cast("double"), lit(0.0)).as("revenue"))
    })

  /** get_user_registrations (db.py:376-404): J3 latest payment status
    * (LEFT-preserving: unpaid -> NULL) + J4 latest registration per
    * (user, event), ordered by event date (O1).
    *
    * While the three tables are served from driver memory, the bound
    * template's joins, both `row_number` windows and the sort fold on
    * the driver ([[graft.plans.LocalPlanFold]]) when the call is made,
    * and the returned frame is over the folded rows: its `collect`
    * optimizes and plans a single in-memory relation and runs no Spark
    * job. */
  def getUserRegistrations(userId: Long): DataFrame =
    userRegistrations("user_id" -> userId)

  private[service] val userRegistrations =
    new Prepared(cat, "events", "registrations", "payments")({ t =>
      val regs = t("registrations")
        .filter($"user_id" === param("user_id", LongType))
      val events = t("events")
      // the user filter can't push through the J3 window on its own, so
      // prune payments to this user's registrations BEFORE the window —
      // otherwise a point query windows over the entire payments table
      val pays = t("payments")
        .join(regs.select("registration_id"), Seq("registration_id"),
          "left_semi")
      // J3: latest payment per registration (payment_date DESC LIMIT 1)
      val wPay = Window.partitionBy("registration_id")
        .orderBy($"payment_date".desc, $"payment_id".desc)
      val latestPay = pays
        .withColumn("rn", row_number().over(wPay)).filter($"rn" === 1)
        .select($"registration_id",
          $"payment_status".as("latest_payment_status"))
      // J4: newest registration per (user_id, event_id)
      val wReg = Window.partitionBy("user_id", "event_id")
        .orderBy($"registration_id".desc)
      val dedup = regs.withColumn("rn", row_number().over(wReg))
        .filter($"rn" === 1).drop("rn")
      dedup
        .join(events, Seq("event_id"))
        .join(latestPay, Seq("registration_id"), "left")
        .select($"registration_id", $"event_id",
          $"event_name".as("title"), $"event_description".as("description"),
          $"event_date", $"event_time_sec",
          $"payment_status".as("registration_status"),
          $"latest_payment_status")
        .orderBy($"event_date".asc, $"registration_id".asc)
    })

  // ---- saved cards (db.py:407-447) ----

  private def enc(c: org.apache.spark.sql.Column) =
    base64(aes_encrypt(c.cast("binary"), lit(aesKey)))
  private def dec(c: org.apache.spark.sql.Column) =
    aes_decrypt(unbase64(c), lit(aesKey)).cast("string")

  /** add_saved_card (db.py:436-447): Fernet-equivalent envelope. */
  def addSavedCard(userId: Long, holder: String, cardNumber: String,
      cvv: String, expiry: String): Long = {
    val row = Seq((userId, holder, cardNumber, cvv, expiry))
      .toDF("user_id", "card_holder_name", "card_number", "cvv",
        "expiry_date")
      .withColumn("card_number_encrypted", enc($"card_number"))
      .withColumn("cvv_encrypted", enc($"cvv"))
      .drop("card_number", "cvv")
    cat.append("saved_cards", row)
  }

  /** get_saved_cards (db.py:425-434) with per-row decrypt (F3) and the
    * display last-4 (F9) computed in the plan. */
  def getSavedCards(userId: Long): DataFrame = savedCards("user_id" -> userId)

  private[service] val savedCards = new Prepared(cat, "saved_cards")(t =>
    t("saved_cards").filter($"user_id" === param("user_id", LongType))
      .withColumn("card_number", dec($"card_number_encrypted"))
      .withColumn("last4", substring($"card_number", -4, 4))
      .select($"card_id", $"user_id", $"card_holder_name", $"card_number",
        $"last4", $"expiry_date"))

  /** the reference's `[-1]` newest card (app.py:290) — defined
    * deterministically as max(card_id) (O4 decision). */
  def newestCardId(userId: Long): Option[Long] =
    newestCard.first("user_id" -> userId)
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))

  private[service] val newestCard = new Prepared(cat, "saved_cards")(t =>
    t("saved_cards").filter($"user_id" === param("user_id", LongType))
      .agg(max($"card_id")))

  /** E3 composite: register + route by price (app.py:236-252): free events
    * pay immediately (Free/Success); paid events leave Pending until
    * recordPayment. Returns (registrationId, paymentId if free). */
  def registerAndPay(userId: Long, eventId: Long): (Long, Option[Long]) = {
    val ev = getEvent(eventId).getOrElse(
      throw new NoSuchElementException(s"event $eventId"))
    val regId = registerUserForEvent(userId, eventId)
    val price = ev.getAs[java.math.BigDecimal]("price")
    if (price == null || price.doubleValue() == 0.0)
      (regId, Some(recordPayment(userId, regId)))
    else (regId, None)
  }
}

object Portal {
  /** 16-byte AES key (dev default; deployments pass their own — the
    * reference reads FERNET_KEY from the environment, db.py:412-420). */
  val defaultKey = "graft-dev-key-16"

  def apply(spark: SparkSession, root: String): Portal =
    new Portal(new Catalog(spark, root))
}
