package graft.model

import org.apache.spark.sql.types._

/** The mailbox data model of the reference, §1 of SURVEY.md, re-expressed
  * as Spark StructTypes.
  *
  * Column lists mirror the reference's src/include/schema.hpp exactly:
  * PST metadata (schema.hpp:124-133) + base Note (140-165) + per-type
  * extensions (contacts 175-260, appointments 263-287, sticky notes
  * 290-304, tasks 307-330, distribution lists 333-343, folders 347-359).
  * Type mapping per SURVEY.md §1.3: unsigned → LongType, ENUM → StringType
  * with an "enum_values" metadata entry, TIMESTAMP_S → TimestampType
  * truncated to seconds.
  */
object MailboxSchema {

  /** Scan modes ↔ the reference's eight table functions
    * (table_function.hpp:68-76).
    */
  object Mode extends Enumeration {
    val Folders, Messages, Notes, Contacts, Appointments, StickyNotes, Tasks,
        DistributionLists = Value
  }

  /** The exact message-class string of each typed mode
    * (typed_bag.hpp:11-25: the six MESSAGE_CLASSES).
    */
  val modeClass: Map[Mode.Value, String] = Map(
    Mode.Notes             -> "IPM.Note",
    Mode.Contacts          -> "IPM.Contact",
    Mode.Appointments      -> "IPM.Appointment",
    Mode.StickyNotes       -> "IPM.StickyNote",
    Mode.Tasks             -> "IPM.Task",
    Mode.DistributionLists -> "IPM.DistList"
  )

  private val classToMode: Map[String, Mode.Value] = modeClass.map(_.swap)

  /** The reference taxonomy (typed_bag.hpp:32-37,96-105): an EXACT
    * MESSAGE_CLASS_MAP lookup of the six known classes; every other
    * string — subclasses like `IPM.Appointment.Foo`, unrelated classes
    * like `IPM.Schedule.Meeting.Request`, or a missing class — buckets
    * into BASE_CLASS = Note. So `IPM.Schedule.Meeting.Request` rows
    * appear in notes mode, not appointments.
    */
  def taxonomyOf(messageClass: String): Mode.Value =
    if (messageClass == null) Mode.Notes
    else classToMode.getOrElse(messageClass, Mode.Notes)

  /** Is this mode backed by message records (vs folder records)? */
  def isMessageMode(mode: Mode.Value): Boolean = mode != Mode.Folders

  /** Modes that class-filter their rows (everything but folders/messages). */
  def isTypedMode(mode: Mode.Value): Boolean =
    mode != Mode.Folders && mode != Mode.Messages

  private def enumMeta(values: String*): Metadata =
    new MetadataBuilder().putStringArray("enum_values", values.toArray).build()

  val recipientTypeEnum  = enumMeta("TO", "CC", "BCC")
  val importanceEnum     = enumMeta("LOW", "NORMAL", "HIGH")
  val priorityEnum       = enumMeta("NONURGENT", "NORMAL", "URGENT")
  val sensitivityEnum    = enumMeta("NONE", "PERSONAL", "PRIVATE", "CONFIDENTIAL")
  val attachMethodEnum = enumMeta(
    "NO_ATTACHMENT", "BY_VALUE", "BY_REFERENCE", "BY_REF_RESOLVE",
    "BY_REF_ONLY", "EMBEDDED_MESSAGE", "OLE")

  val recipientStruct: StructType = StructType(Seq(
    StructField("display_name", StringType),
    StructField("account_name", StringType),
    StructField("email_address", StringType),
    StructField("address_type", StringType),
    StructField("recipient_type", StringType, metadata = recipientTypeEnum),
    StructField("recipient_type_raw", IntegerType)
  ))

  val attachmentStruct: StructType = StructType(Seq(
    StructField("filename", StringType),
    StructField("mime_type", StringType),
    StructField("size", LongType),
    StructField("attach_content_id", StringType),
    StructField("attach_method", StringType, metadata = attachMethodEnum),
    StructField("is_message", BooleanType),
    StructField("bytes", BinaryType)
  ))

  val oneOffRecipientStruct: StructType = StructType(Seq(
    StructField("display_name", StringType),
    StructField("address_type", StringType),
    StructField("email_address", StringType)
  ))

  /** Per-file PST metadata columns (schema.hpp:124-133). */
  val pstFields: Seq[StructField] = Seq(
    StructField("pst_path", StringType),
    StructField("pst_name", StringType),
    StructField("record_key", BinaryType),
    StructField("node_id", LongType),
    StructField("parent_node_id", LongType)
  )

  /** Base message columns (schema.hpp:140-165), 21 + 5 pst = 26 total. */
  val noteFields: Seq[StructField] = Seq(
    StructField("subject", StringType),
    StructField("body", StringType),
    StructField("body_html", StringType),
    StructField("display_name", StringType),
    StructField("comment", StringType),
    StructField("sender_name", StringType),
    StructField("sender_email_address", StringType),
    StructField("recipients", ArrayType(recipientStruct)),
    StructField("has_attachments", BooleanType),
    StructField("attachment_count", LongType),
    StructField("attachments", ArrayType(attachmentStruct)),
    StructField("importance", StringType, metadata = importanceEnum),
    StructField("priority", StringType, metadata = priorityEnum),
    StructField("sensitivity", StringType, metadata = sensitivityEnum),
    StructField("creation_time", TimestampType),
    StructField("last_modified", TimestampType),
    StructField("message_delivery_time", TimestampType),
    StructField("message_class", StringType),
    StructField("message_flags", IntegerType),
    StructField("message_size", LongType),
    StructField("conversation_topic", StringType),
    StructField("internet_message_id", StringType)
  )

  /** Contact extension columns (schema.hpp:175-260), +78. */
  val contactFields: Seq[StructField] = {
    val varchars = Seq(
      "display_name_prefix", "given_name", "middle_name", "surname",
      "generation_suffix", "initials", "nickname", "preferred_by_name",
      "account_name", "original_display_name", "transmittable_display_name",
      "mhs_common_name", "government_id_number", "organizational_id_number")
      .map(StructField(_, StringType)) ++
      Seq(
        StructField("birthday", TimestampType),
        StructField("wedding_anniversary", TimestampType),
        StructField("spouse_name", StringType),
        StructField("childrens_names", StringType),
        StructField("gender", ShortType)
      ) ++
      Seq(
        "hobbies", "profession", "language", "location", "keyword",
        "company_name", "title", "department_name", "office_location",
        "manager_name", "assistant", "customer_id", "primary_telephone",
        "business_telephone", "business_telephone_2", "home_telephone",
        "home_telephone_2", "mobile_telephone", "car_telephone",
        "radio_telephone", "pager_telephone", "callback_number",
        "other_telephone", "assistant_telephone", "company_main_phone",
        "ttytdd_phone", "isdn_number", "telex_number", "primary_fax",
        "business_fax", "home_fax", "business_address_street",
        "business_address_city", "business_address_state",
        "business_postal_code", "business_address_country", "business_po_box",
        "home_address_street", "home_address_city", "home_address_state",
        "home_address_postal_code", "home_address_country",
        "home_address_po_box", "other_address_street", "other_address_city",
        "other_address_state", "other_address_postal_code",
        "other_address_country", "other_address_po_box", "postal_address",
        "personal_home_page", "business_home_page", "ftp_site",
        "computer_network_name").map(StructField(_, StringType)) ++
      Seq("mail_permission", "send_rich_info", "conversation_prohibited",
        "disclose_recipients").map(StructField(_, BooleanType))
    varchars
  }

  /** Appointment extension columns (schema.hpp:263-287), +15. */
  val appointmentFields: Seq[StructField] = Seq(
    StructField("location", StringType),
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType),
    StructField("duration", IntegerType),
    StructField("all_day_event", BooleanType),
    StructField("is_meeting", BooleanType),
    StructField("organizer_name", StringType),
    StructField("required_attendees", StringType),
    StructField("optional_attendees", StringType),
    StructField("meeting_workspace_url", StringType),
    StructField("busy_status", IntegerType),
    StructField("response_status", IntegerType),
    StructField("is_recurring", BooleanType),
    StructField("recurrence_pattern", StringType),
    StructField("is_private", BooleanType)
  )

  /** Sticky-note extension columns (schema.hpp:290-304), +5. */
  val stickyNoteFields: Seq[StructField] = Seq(
    StructField("note_color", IntegerType),
    StructField("note_width", IntegerType),
    StructField("note_height", IntegerType),
    StructField("note_x", IntegerType),
    StructField("note_y", IntegerType)
  )

  /** Task extension columns (schema.hpp:307-330), +15. */
  val taskFields: Seq[StructField] = Seq(
    StructField("task_status", IntegerType),
    StructField("is_complete", BooleanType),
    StructField("percent_complete", DoubleType),
    StructField("start_date", TimestampType),
    StructField("due_date", TimestampType),
    StructField("date_completed", TimestampType),
    StructField("last_update", TimestampType),
    StructField("estimated_effort", IntegerType),
    StructField("actual_effort", IntegerType),
    StructField("task_owner", StringType),
    StructField("task_assigner", StringType),
    StructField("ownership", IntegerType),
    StructField("last_user", StringType),
    StructField("is_team_task", BooleanType),
    StructField("is_recurring", BooleanType)
  )

  /** Distribution-list extension columns (schema.hpp:333-343), +2. */
  val dlistFields: Seq[StructField] = Seq(
    StructField("member_node_ids", ArrayType(LongType)),
    StructField("one_off_members", ArrayType(oneOffRecipientStruct))
  )

  /** Folder columns (schema.hpp:347-359), 5 + 5 pst = 10 total. */
  val folderFields: Seq[StructField] = Seq(
    StructField("container_class", StringType),
    StructField("display_name", StringType),
    StructField("subfolder_count", LongType),
    StructField("message_count", LongType),
    StructField("unread_message_count", LongType)
  )

  /** Virtual row-identity columns for late materialization
    * (schema.hpp:11-17, table_function.cpp:383-403).
    */
  val virtualFields: Seq[StructField] = Seq(
    StructField("__partition", LongType),
    StructField("__node_id", LongType)
  )

  def schemaFor(mode: Mode.Value): StructType = StructType(mode match {
    case Mode.Folders  => pstFields ++ folderFields
    case Mode.Messages => pstFields ++ noteFields
    case Mode.Notes    => pstFields ++ noteFields
    case Mode.Contacts => pstFields ++ noteFields ++ contactFields
    case Mode.Appointments      => pstFields ++ noteFields ++ appointmentFields
    case Mode.StickyNotes       => pstFields ++ noteFields ++ stickyNoteFields
    case Mode.Tasks             => pstFields ++ noteFields ++ taskFields
    case Mode.DistributionLists => pstFields ++ noteFields ++ dlistFields
  })
}
