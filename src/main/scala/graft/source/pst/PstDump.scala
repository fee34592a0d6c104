package graft.source.pst

import org.apache.hadoop.conf.Configuration

/** Debug CLI: dump folder/message rows of a PST (used while validating
  * against the reference's golden expectations). Defaults to the
  * committed Unicode unittest fixture.
  */
object PstDump {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "fixtures/mailbox/unittest.pst"
    val pst = PstFile.open(path, new Configuration())
    try {
      val r = new PstReader(pst)
      println(s"store=${r.storeName} key=${r.storeRecordKey.map("%02x".format(_)).mkString}")
      println(s"folders=${r.folderNids.length} messages=${r.messageNids.length}")
      r.folderNids.foreach { nid =>
        val f = r.folderRow(nid)
        println(s"F ${f("node_id")} ${f("parent_node_id")} " +
          s"name=${f("display_name")} cc=${f("container_class")} " +
          s"sub=${f("subfolder_count")} msg=${f("message_count")} unread=${f("unread_message_count")}")
      }
      r.messageNids.foreach { nid =>
        val m = r.messageRow(nid, readAttachmentBody = false)
        println(s"M $nid ${m("parent_node_id")} class=${m("message_class")} subj=${m("subject")} " +
          s"topic=${m("conversation_topic")} from=${m("sender_name")} <${m("sender_email_address")}> " +
          s"att=${m("attachment_count")} size=${m("message_size")}")
      }
    } finally pst.close()
  }
}
